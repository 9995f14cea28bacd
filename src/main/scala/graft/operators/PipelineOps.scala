package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation pipeline operators over `documents` (SURVEY.md §2.12 —
  * driver-mandated LLM-training-data extensions, round 6 additions).
  *
  * These four are the curation steps that sit BETWEEN the per-doc scoring
  * in [[TextOps]] and the model: benchmark decontamination, repetition
  * gating, sequence packing, and domain mixing. Scale design per op:
  *
  *  - `decontaminate_ngrams`: train-side n-grams are a narrow map; the
  *    benchmark n-gram set is tiny by construction (eval sets are MBs, not
  *    TBs), so the membership probe is a BROADCAST semi-join — the 100 TB
  *    train side never shuffles.
  *  - `repetition_signals`: zero-shuffle. Top-term frequency is computed
  *    inside one whole-stage-codegen span with `array_sort` + `aggregate`
  *    (max run length of a sorted array) — no explode, no groupBy, so a
  *    100 TB corpus needs exactly one scan and no exchange before the
  *    final order-by.
  *  - `sequence_pack` / `domain_budget_sample`: SKEW-SAFE per-source
  *    prefix sums. A window partitioned only by `source` sends a
  *    mega-domain through ONE reducer; instead each source is split into
  *    order-preserving buckets (doc_id ranges / md5-prefix ranges), the
  *    window runs on (source, bucket) — the hot domain spreads over
  *    `buckets` reducers — and per-(source, bucket) totals (a tiny
  *    aggregate, |sources|·|buckets| rows) yield each bucket's carry-in
  *    offset via a window over that tiny table, broadcast-joined back.
  *    Output is boundary-invariant: identical to the single-window
  *    formulation, which is what the DuckDB oracles compute and what
  *    PipelineOpsSpec's 90%-hot-source fixture asserts.
  */
object PipelineOps {

  private def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  private val B = 512L // sequence-pack token budget
  private val MixBudget = 600L // per-domain token budget
  private val DigestEmpty = "d41d8cd98f00b204e9800998ecf8427e" // md5("")

  /** Word n-gram PARTS of `text` as a struct array (fields "0".."n-1");
    * empty below n words. Built from codegen'd `arrays_zip` over shifted
    * slices — the obvious `transform(sequence…)` lambda runs interpreted
    * (higher-order functions never enter whole-stage codegen) and measured
    * ~4× slower end-to-end on the sibling bigram query. Explode the parts,
    * then assemble the gram text per ROW with [[gramOf]] (codegen'd). */
  private[graft] def wordNgramParts(text: Column, n: Int): Column = {
    val w = split(text, " ")
    val cnt = greatest(size(w) - (n - 1), lit(0))
    arrays_zip((1 to n).map(i => slice(w, lit(i), cnt)): _*)
  }

  /** Gram text from one exploded element of [[wordNgramParts]]. */
  /** The pipeline quality-score SQL over (nw, stop, letters) — ONE
    * definition shared by the batch pipelines and the streaming funnel
    * ([[graft.streaming.StreamingIngest]] claims parity with
    * `pretraining_pipeline`; a threshold change here must reach both). */
  private[graft] val QualityScoreSql: String =
    """500 + 2 * (CASE WHEN nw > 0 THEN (stop * 1000) div nw ELSE 0 END)
       - abs((CASE WHEN nw > 0 THEN (letters * 1000) div nw ELSE 0 END) - 4000) div 4"""

  private[graft] def gramOf(p: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(i => p.getField(i.toString)): _*)

  /** Benchmark decontamination: flag training docs that share any word
    * 5-gram with the benchmark/eval split (here: `source = 'src0'` stands
    * in for the eval set). The standard contamination check (GPT-3 §C,
    * Gopher §A.8 use 8–13-gram overlap; 5 fits this fixture's doc length).
    * Output: contaminated train docs with their distinct-overlapping-gram
    * count — the downstream pipeline drops or audits these. */
  /** Contaminated train docs with distinct-overlapping-5-gram counts — the
    * core of `decontaminate_ngrams`, shared with `decontaminate_agreement`. */
  private[operators] def ngramContaminationHits(s: SparkSession, dir: String): DataFrame = {
    // fan the 5-gram explode off the single-split documents scan — it is
    // evaluated for BOTH the bench side and the train side and otherwise
    // runs ~0.4 s inside the one scan task (Tables.fanOutSmall: no-op on
    // any multi-split production input)
    val grams = graft.Tables.fanOutSmall(
        docs(s, dir).select(col("doc_id"), col("source"), col("text")),
        s, dir, "documents", col("doc_id"))
      .select(col("doc_id"), col("source"), explode(wordNgramParts(col("text"), 5)).as("p"))
      .select(col("doc_id"), col("source"), gramOf(col("p"), 5).as("g"))
    val bench = grams.filter(col("source") === "src0").select("g").distinct()
    grams
      .filter(col("source") =!= "src0")
      .join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_hits"))
  }

  private val decontaminateNgrams = QueryDef(
    "decontaminate_ngrams",
    (s, dir) => ngramContaminationHits(s, dir)
      .orderBy("doc_id")
      .select(col("doc_id"), col("n_hits")),
    Some("""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, source,
                     unnest(list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))) AS g
              FROM toks WHERE len(w) >= 5),
            bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
            SELECT g.doc_id, CAST(count(DISTINCT g.g) AS BIGINT) AS n_hits
            FROM grams g JOIN bench b ON g.g = b.g
            WHERE g.source <> 'src0'
            GROUP BY 1 ORDER BY doc_id"""),
  )

  /** Longest run length in a sorted string array — i.e. the max frequency
    * of any element — computed entirely inside codegen (no explode/shuffle).
    * The empty-string seed never collides: split() tokens are non-empty. */
  private def maxFreq(arr: Column): Column = {
    val sorted = array_sort(arr)
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A.1.1): fraction of
    * tokens taken by the single most frequent word, and by the most
    * frequent word-bigram. High values mark boilerplate/spam for the
    * quality gate. Zero-shuffle: both maxima come from `array_sort` +
    * `aggregate` over per-row arrays, not an explode + groupBy. */
  private val repetitionSignals = QueryDef(
    "repetition_signals",
    (s, dir) => {
      val w = split(col("text"), " ")
      val bigrams = transform(sequence(lit(0), size(w) - 2),
        i => concat(element_at(w, i + 1), lit(" "), element_at(w, i + 2)))
      val nTok = size(w).cast("long")
      docs(s, dir)
        .filter(size(w) >= 2)
        .select(
          col("doc_id"),
          round(maxFreq(w).cast("double") / nTok.cast("double"), 4).as("top_word_frac"),
          round(maxFreq(bigrams).cast("double") / (nTok - 1L).cast("double"), 4)
            .as("top_bigram_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text,' ') AS w FROM documents
                          WHERE len(string_split(text,' ')) >= 2),
            words AS (SELECT doc_id, unnest(w) AS tok, len(w) AS nt FROM toks),
            wc AS (SELECT doc_id, tok, max(nt) nt, count(*) c FROM words GROUP BY 1,2),
            wmax AS (SELECT doc_id, max(c) mc, max(nt) nt FROM wc GROUP BY 1),
            bg AS (SELECT doc_id,
                          unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS big,
                          len(w)-1 AS nb FROM toks),
            bc AS (SELECT doc_id, big, max(nb) nb, count(*) c FROM bg GROUP BY 1,2),
            bmax AS (SELECT doc_id, max(c) mbc, max(nb) nb FROM bc GROUP BY 1)
            SELECT w.doc_id, round(CAST(mc AS DOUBLE)/nt, 4) AS top_word_frac,
                   round(CAST(mbc AS DOUBLE)/b.nb, 4) AS top_bigram_frac
            FROM wmax w JOIN bmax b ON w.doc_id = b.doc_id ORDER BY w.doc_id"""),
  )

  /** Skew-safe per-source cumulative token sum (see object doc): local
    * windows on (source, bucket) + a broadcast carry-in from the tiny
    * per-bucket-totals table. `orderCols` must sort consistently with the
    * bucket column (bucket boundaries are prefixes of the order), so the
    * concatenation of buckets in bucket order IS the per-source order.
    * Returns the input columns + `cum`. */
  private[graft] def perSourceCum(base: DataFrame, bkt: Column,
      orderCols: Seq[String]): DataFrame = {
    val b = base.withColumn("bkt", bkt)
    val local = b.withColumn("lcum",
      sum(col("n_tokens")).over(
        Window.partitionBy("source", "bkt").orderBy(orderCols.map(col): _*)))
    val carry = b.groupBy("source", "bkt").agg(sum("n_tokens").as("btot"))
      .withColumn("carry", coalesce(
        sum("btot").over(Window.partitionBy("source").orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("source", "bkt", "carry")
    local.join(broadcast(carry), Seq("source", "bkt"))
      .withColumn("cum", col("lcum") + col("carry"))
      .drop("bkt", "lcum", "carry")
  }

  /** Sequence packing: assign docs (in doc_id order, per source) to fixed
    * token-budget training sequences by start offset in the concatenated
    * token stream — the "concat then chunk every B tokens" packing every
    * pretraining loader does. Output is per-sequence accounting. The
    * prefix sum is the skew-safe [[perSourceCum]] over doc_id-range
    * buckets: a 90%-hot domain spreads over `buckets` reducers. */
  private[graft] def sequencePackOp(d: DataFrame, buckets: Int): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val base = d.select(col("source"), col("doc_id"), nTok.as("n_tokens"))
    // order-preserving bucketing: bucket b holds a contiguous doc_id range.
    // max(doc_id) is one parquet-stats-cheap agg; width ≥ 1 guards tiny ids.
    val maxId = base.agg(coalesce(max("doc_id"), lit(0L))).head.getLong(0)
    val width = math.max(1L, maxId / buckets + 1L)
    perSourceCum(base, (col("doc_id") / width).cast("long"), Seq("doc_id"))
      .withColumn("seq_id",
        floor((col("cum") - col("n_tokens")).cast("double") / lit(B.toDouble)).cast("long"))
      .groupBy("source", "seq_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("source", "seq_id")
  }

  private val sequencePack = QueryDef(
    "sequence_pack",
    (s, dir) => sequencePackOp(docs(s, dir),
      buckets = s.sessionState.conf.numShufflePartitions),
    Some(s"""WITH t AS (SELECT source, doc_id,
                    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
            c AS (SELECT source, doc_id, n_tokens,
                    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
            SELECT source, CAST(floor(CAST(cum - n_tokens AS DOUBLE) / $B.0) AS BIGINT) AS seq_id,
                   CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
                   CAST(min(doc_id) AS BIGINT) AS first_doc, CAST(max(doc_id) AS BIGINT) AS last_doc
            FROM c GROUP BY 1,2 ORDER BY source, seq_id"""),
  )

  /** GLOBAL sequence packing via a distributed two-pass prefix sum — the
    * scale-safe shape the per-source window in [[sequencePack]] points at:
    * a single window over everything sends 100 TB through ONE reducer; here
    * pass 1 range-partitions by doc_id and sends only per-partition token
    * totals to the driver (one long per partition), and pass 2 is a narrow
    * map that adds each partition's exact start offset to its local running
    * sum. No global shuffle-to-one anywhere; output is identical to the
    * single-window formulation, which is what the DuckDB oracle computes. */
  /** Global packing, parameterized by the range-partition count — derived
    * from `spark.sql.shuffle.partitions` in the QueryDef (8 hardcoded
    * partitions would bottleneck a 100 TB run; the conf is the knob ops
    * already size to the cluster). Output is partition-count-invariant:
    * PipelineOpsSpec asserts equality across two counts. */
  private[graft] def sequencePackGlobalOp(d: DataFrame, numParts: Int): DataFrame = {
      val s = d.sparkSession
      import s.implicits._
      val parts = d
        .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .repartitionByRange(numParts, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .as[(Long, Long)]
        // pin the partitioning: pass 2 must see the SAME partitions pass 1
        // summed (range boundaries come from sampling; don't recompute)
        .localCheckpoint()
      val partSums = parts.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var sum = 0L
        it.foreach(sum += _._2)
        Iterator((pid, sum))
      }.collect().sortBy(_._1) // one (pid, tokens) pair per partition — driver-tiny
      val offsets = partSums.map(_._1).zip(
        partSums.map(_._2).scanLeft(0L)(_ + _).init).toMap
      val bco = s.sparkContext.broadcast(offsets)
      val assigned = parts.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var cum = bco.value.getOrElse(pid, 0L)
        it.map { case (id, t) => cum += t; (id, t, cum) }
      }.toDF("doc_id", "n_tokens", "cum")
      assigned
        .withColumn("seq_id",
          floor((col("cum") - col("n_tokens")).cast("double") / lit(B.toDouble)).cast("long"))
        .groupBy("seq_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("seq_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy("seq_id")
  }

  private val sequencePackGlobal = QueryDef(
    "sequence_pack_global",
    (s, dir) => sequencePackGlobalOp(docs(s, dir),
      numParts = s.sessionState.conf.numShufflePartitions),
    Some(s"""WITH t AS (SELECT doc_id,
                    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
            c AS (SELECT doc_id, n_tokens,
                    sum(n_tokens) OVER (ORDER BY doc_id) AS cum FROM t)
            SELECT CAST(floor(CAST(cum - n_tokens AS DOUBLE) / $B.0) AS BIGINT) AS seq_id,
                   CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
                   CAST(min(doc_id) AS BIGINT) AS first_doc, CAST(max(doc_id) AS BIGINT) AS last_doc
            FROM c GROUP BY 1 ORDER BY seq_id"""),
  )

  /** Domain mixing under a token budget: per source, keep documents in
    * deterministic md5 order until the domain's cumulative token count
    * reaches the budget — the reproducible version of "sample X tokens
    * per domain" (reshard-stable like `deterministic_sample`: membership
    * is a pure function of doc_id, never of partitioning or rand()). */
  private[graft] def domainBudgetSampleOp(d: DataFrame, budget: Long): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val h = md5(concat(lit("mix:"), col("doc_id").cast("string")))
    val base = d.select(col("source"), col("doc_id"), nTok.as("n_tokens"), h.as("h"))
    // order-preserving bucketing over the md5 order: the first 2 hex chars
    // are a lexicographic prefix of h, so 256 buckets concatenate in (h,
    // doc_id) order — a mega-domain's window spreads over 256 reducers
    perSourceCum(base, conv(substring(col("h"), 1, 2), 16, 10).cast("long"),
      Seq("h", "doc_id"))
      .filter(col("cum") <= budget)
      .groupBy("source")
      .agg(count(lit(1)).as("docs_kept"), sum(col("n_tokens")).as("tokens_kept"))
      .orderBy("source")
  }

  /** Substring-granularity dedup signal (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"): per document, how many
    * of its word 8-gram positions carry a gram that also appears in ANOTHER
    * document — plus the covered fraction. High rep_frac docs are
    * boilerplate/templates that exact and near-dup document matching both
    * miss (the duplication lives below document granularity).
    *
    * Scale shape: the corpus-sized gram stream crosses the network ONCE —
    * the narrow flatMap feeds a (gram, doc) occurrence count, and every
    * later step ((gram)-level doc count, the nd>1 gate, the per-doc sum)
    * moves only per-pair aggregates, never raw grams; there is no join
    * back against the expansion. The full suffix-array span-merge is out
    * of scope; counting repeated positions is the standard first-pass
    * signal. */
  private val repeatedNgramSpans = QueryDef(
    "repeated_ngram_spans",
    (s, dir) => {
      val d = docs(s, dir)
      val grams = d.select(col("doc_id"), explode(wordNgramParts(col("text"), 8)).as("p"))
        .select(col("doc_id"), gramOf(col("p"), 8).as("g"))
      val perDocGram = grams.groupBy("g", "doc_id").agg(count(lit(1)).as("occ"))
      val rep = perDocGram
        .withColumn("nd", count(lit(1)).over(Window.partitionBy("g")))
        .filter(col("nd") > 1)
        .groupBy("doc_id").agg(sum("occ").as("rep_positions"))
      val tot = d.select(col("doc_id"),
        greatest(size(split(col("text"), " ")) - 7, lit(0)).cast("long").as("n_positions"))
        .filter(col("n_positions") > 0)
      tot.join(rep, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_positions"),
          coalesce(col("rep_positions"), lit(0L)).as("rep_positions"),
          round(coalesce(col("rep_positions"), lit(0L)).cast("double") /
            col("n_positions").cast("double"), 4).as("rep_frac"))
        .orderBy("doc_id")
    },
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id,
                     unnest(list_transform(range(1, len(w) - 6),
                            i -> array_to_string(w[i:i+7], ' '))) AS g
              FROM toks WHERE len(w) >= 8),
            freq AS (SELECT g, count(DISTINCT doc_id) AS nd FROM grams GROUP BY g),
            rep AS (SELECT grams.doc_id, CAST(count(*) AS BIGINT) AS rep_positions
                    FROM grams JOIN freq ON grams.g = freq.g AND freq.nd > 1
                    GROUP BY 1),
            tot AS (SELECT doc_id, CAST(len(w) - 7 AS BIGINT) AS n_positions
                    FROM toks WHERE len(w) >= 8)
            SELECT t.doc_id, t.n_positions,
                   CAST(coalesce(r.rep_positions, 0) AS BIGINT) AS rep_positions,
                   round(CAST(coalesce(r.rep_positions, 0) AS DOUBLE) /
                         CAST(t.n_positions AS DOUBLE), 4) AS rep_frac
            FROM tot t LEFT JOIN rep r ON t.doc_id = r.doc_id
            ORDER BY t.doc_id"""),
  )

  private val domainBudgetSample = QueryDef(
    "domain_budget_sample",
    (s, dir) => domainBudgetSampleOp(docs(s, dir), MixBudget),
    Some(s"""WITH t AS (SELECT source, doc_id,
                    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
                    md5('mix:' || CAST(doc_id AS VARCHAR)) AS h FROM documents),
            c AS (SELECT source, doc_id, n_tokens,
                    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id) AS cum FROM t)
            SELECT source, CAST(count(*) AS BIGINT) AS docs_kept,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
            FROM c WHERE cum <= $MixBudget GROUP BY 1 ORDER BY source"""),
  )

  /** X53 substring dedup REMOVAL — the second pass `repeated_ngram_spans`
    * only signals (Lee et al. 2021 §4.1, ExactSubstr): every word position
    * covered by an 8-gram that also occurs in ANOTHER document is dropped,
    * and the document is rebuilt from the surviving tokens (boilerplate
    * and licence blocks vanish while the unique prose stays). Output is
    * per-doc token counts plus the md5 of the trimmed text — the rebuild
    * itself is hash-checked, not just the counts.
    *
    * Scale shape: the corpus-sized gram stream crosses the network ONCE —
    * cross-doc duplication is detected with min/max(doc_id) window
    * aggregates over the gram key (min ≠ max ⟺ >1 distinct doc; no
    * count-distinct, no join back against a second gram expansion). Only
    * DUPLICATED occurrences then explode ×8 into covered positions, and
    * the rebuild shuffles (doc_id, pos, token) triples once. The full
    * suffix-array formulation (arbitrary-length spans) stays out of
    * scope; fixed-N covering grams are the standard distributed
    * approximation. */
  private val substringDedupTrim = QueryDef(
    "substring_dedup_trim",
    (s, dir) => {
      val d = docs(s, dir)
      val toks = d.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("tok"))
      val grams = d.select(col("doc_id"),
          posexplode(wordNgramParts(col("text"), 8)).as(Seq("s0", "p")))
        .select(col("doc_id"), (col("s0") + 1).cast("long").as("start"),
          gramOf(col("p"), 8).as("g"))
      val w = Window.partitionBy("g")
      val covered = grams
        .withColumn("dmin", min("doc_id").over(w))
        .withColumn("dmax", max("doc_id").over(w))
        .filter(col("dmin") =!= col("dmax"))
        .select(col("doc_id"), explode(sequence(col("start"), col("start") + 7)).as("pos"))
        .distinct()
      val rebuilt = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          collect_list(struct(col("pos"), col("tok"))).as("pt"))
        .select(col("doc_id"), col("n_kept"),
          md5(array_join(transform(sort_array(col("pt")), x => x("tok")), " "))
            .as("trimmed_md5"))
      d.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("trimmed_md5"), lit(DigestEmpty)).as("trimmed_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            tok AS (SELECT doc_id, CAST(unnest(range(1, len(w) + 1)) AS BIGINT) AS pos,
                           unnest(w) AS tok
                    FROM t0),
            grams AS (SELECT doc_id,
                             CAST(unnest(range(1, len(w) - 6)) AS BIGINT) AS start,
                             unnest(list_transform(range(1, len(w) - 6),
                                    i -> array_to_string(w[i:i+7], ' '))) AS g
                      FROM t0 WHERE len(w) >= 8),
            dup AS (SELECT doc_id, start FROM (
                      SELECT doc_id, start,
                             min(doc_id) OVER (PARTITION BY g) AS dmin,
                             max(doc_id) OVER (PARTITION BY g) AS dmax
                      FROM grams) WHERE dmin <> dmax),
            cov AS (SELECT DISTINCT doc_id, CAST(unnest(range(start, start + 8)) AS BIGINT) AS pos
                    FROM dup),
            kept AS (SELECT tok.doc_id, tok.pos, tok.tok
                     FROM tok ANTI JOIN cov ON cov.doc_id = tok.doc_id AND cov.pos = tok.pos),
            rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                          md5(string_agg(tok, ' ' ORDER BY pos)) AS trimmed_md5
                   FROM kept GROUP BY doc_id)
            SELECT t0.doc_id, CAST(len(t0.w) AS BIGINT) AS n_tokens,
                   CAST(len(t0.w) - coalesce(rb.n_kept, 0) AS BIGINT) AS n_removed,
                   coalesce(rb.trimmed_md5, md5('')) AS trimmed_md5
            FROM t0 LEFT JOIN rb ON rb.doc_id = t0.doc_id
            ORDER BY t0.doc_id"""),
  )

  /** X91 paragraph-granularity exact dedup — the dedup granularity between
    * whole-document (`dedup_exact`) and covering-gram (`substring_dedup_trim`):
    * Dolma and CCNet both dedup at the PARAGRAPH level, because boilerplate
    * repeats in paragraph-sized units (nav bars, licence blocks) that
    * neither doc-level hashing nor per-position gram trimming expresses
    * directly. Documents are split into non-overlapping 20-token
    * pseudo-paragraphs (the synthetic corpus has no newline structure;
    * fixed windows are the same convention `context_chunks` uses), every
    * occurrence after the FIRST — corpus order = (doc_id, para_idx) — is
    * dropped, and the doc is rebuilt from its surviving paragraphs. Output
    * is per-doc paragraph counts plus the md5 of the rebuilt text, so the
    * keep-first decision AND the rebuild are hash-checked cross-engine.
    *
    * Scale shape: one corpus-sized shuffle, keyed on paragraph content —
    * exactly Dolma's dedup key — with the first-occurrence decision a
    * row_number inside each paragraph's partition (paragraph partitions
    * are duplicate-multiplicity-sized, never corpus-sized); the rebuild
    * re-aggregates the kept stream by doc_id. No join back against a
    * second expansion of the corpus, no all-pairs anything. At 100 TB the
    * paragraph stream is the same bytes the corpus itself occupies — the
    * minimum any content-level dedup moves — and a production run would
    * swap the rebuild md5 for writing the kept paragraphs out. */
  private val paragraphDedup = QueryDef(
    "paragraph_dedup",
    (s, dir) => {
      val paras = docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
        .withColumn("nt", size(col("toks")).cast("long"))
        .filter(col("nt") > 0L) // guards the descending-sequence trap below
        .withColumn("n_paras", expr("(nt + 19) div 20"))
        .withColumn("pidx", explode(expr("sequence(0L, n_paras - 1)")))
        .select(col("doc_id"), col("n_paras"), col("pidx"),
          concat_ws(" ",
            expr("slice(toks, cast(pidx * 20 + 1 AS INT), 20)")).as("para"))
      val w = Window.partitionBy("para").orderBy("doc_id", "pidx")
      paras.withColumn("rn", row_number().over(w))
        .groupBy("doc_id")
        .agg(max("n_paras").as("n_paras"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          // collect_list skips the nulls the `when` leaves for dropped
          // paragraphs, so only kept (pidx, para) pairs reach the rebuild
          collect_list(when(col("rn") === 1,
            struct(col("pidx"), col("para")))).as("pp"))
        .select(col("doc_id"), col("n_paras"),
          (col("n_paras") - col("n_kept")).as("n_removed"),
          md5(array_join(transform(sort_array(col("pp")), x => x("para")), " "))
            .as("kept_md5"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS w
                 FROM documents),
            n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS nt
                  FROM t WHERE len(w) > 0),
            p AS (SELECT doc_id, CAST((nt + 19) // 20 AS BIGINT) AS n_paras,
                         CAST(u.i AS BIGINT) AS pidx,
                         array_to_string(w[u.i*20+1 : u.i*20+20], ' ') AS para
                  FROM n, unnest(range(0, CAST((nt + 19) // 20 AS INT))) AS u(i)),
            r AS (SELECT doc_id, n_paras, pidx, para,
                         row_number() OVER (PARTITION BY para
                                            ORDER BY doc_id, pidx) AS rn
                  FROM p),
            a AS (SELECT doc_id, max(n_paras) AS n_paras,
                         CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                         coalesce(md5(string_agg(para, ' ' ORDER BY pidx)
                                      FILTER (WHERE rn = 1)), md5('')) AS kept_md5
                  FROM r GROUP BY doc_id)
            SELECT doc_id, CAST(n_paras AS BIGINT) AS n_paras,
                   CAST(n_paras - n_kept AS BIGINT) AS n_removed, kept_md5
            FROM a ORDER BY doc_id"""),
  )

  /** X69 context-window chunking — the doc→training-example conversion:
    * each document is split into sliding token windows of size 64 with
    * stride 48 (25% overlap, the long-document recipe), the exact shape a
    * tokenized corpus is materialized in before packing/batching. Emits
    * one row per chunk with its token span and an md5 of the chunk's
    * joined tokens — so the CONTENT of every window (boundaries included)
    * is hash-checked cross-engine, not just the counts. Window count is
    * 1 + ⌈(nt−64)/48⌉ for nt > 64, one window for 0 < nt ≤ 64, none for
    * an empty doc (the `sequence(0, −1)` backward-step trap is guarded by
    * the n_chunks > 0 filter).
    *
    * Scale: narrow map + one Generate per doc (chunks ride the same task
    * as their document; nothing shuffles before the final order-by), the
    * same single-pass shape as `sequence_pack`'s input side. */
  private val contextChunks = QueryDef(
    "context_chunks",
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id").cast("long").as("doc_id"),
          expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
        .withColumn("nt", size(col("toks")).cast("long"))
        .withColumn("n_chunks",
          when(col("nt") === 0L, 0L)
            .when(col("nt") <= 64L, 1L)
            .otherwise(lit(1L) + expr("(nt - 17) div 48")))
        .filter(col("n_chunks") > 0L)
        .withColumn("chunk_idx", explode(expr("sequence(0L, n_chunks - 1)")))
        .withColumn("start_tok", col("chunk_idx") * 48L)
        .withColumn("chunk_len", least(lit(64L), col("nt") - col("start_tok")))
        .select(col("doc_id"), col("nt").as("n_tokens"), col("n_chunks"),
          col("chunk_idx"), col("start_tok"), col("chunk_len"),
          md5(concat_ws(" ", expr(
            "slice(toks, cast(start_tok + 1 AS INT), cast(chunk_len AS INT))")))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx"),
    Some("""WITH tok AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
            n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS nt FROM tok),
            c AS (SELECT doc_id, toks, nt,
                  CASE WHEN nt = 0 THEN 0 WHEN nt <= 64 THEN 1
                       ELSE 1 + (nt - 17) // 48 END AS n_chunks FROM n),
            ch AS (SELECT doc_id AS d_id, nt, n_chunks, CAST(u.i AS BIGINT) AS chunk_idx,
                          CAST(u.i * 48 AS BIGINT) AS start_tok
                   FROM c, unnest(range(0, CAST(n_chunks AS INT))) AS u(i))
            SELECT ch.d_id AS doc_id, ch.nt AS n_tokens, ch.n_chunks, ch.chunk_idx,
                   ch.start_tok,
                   least(64, ch.nt - ch.start_tok) AS chunk_len,
                   md5(array_to_string(list_slice(c.toks, ch.start_tok + 1,
                       ch.start_tok + least(64, ch.nt - ch.start_tok)), ' ')) AS chunk_md5
            FROM ch JOIN c ON c.doc_id = ch.d_id
            ORDER BY doc_id, chunk_idx"""),
  )

  /** C4-style URL canonicalization + provenance dedup: crawls re-reach the
    * same page via scheme/case/www/query/trailing-slash variants, so URL
    * dedup BEFORE content dedup is the cheapest duplicate filter a crawl
    * pipeline has. Deterministic per-doc URL variants are synthesized from
    * doc metadata (same convention as `url_host_stats`; `doc_id div 40`
    * lands same-source docs on one canonical page across URL variants), canonicalized
    * (lowercase, strip `www.`, drop the query string, strip the trailing
    * slash), and audited per domain: distinct canonical pages vs raw docs.
    *
    * Scale shape: canonicalization is a narrow regexp map; the audit is
    * one partial-agg'd groupBy over (domain, canon) then domain — no
    * joins, no text ever shuffles. */
  private val urlCanonicalDedup = QueryDef(
    "url_canonical_dedup",
    (s, dir) => {
      val withUrl = docs(s, dir).withColumn("raw_url",
        concat(
          when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
          when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("www.")),
          col("source"), lit(".example.com/p/"),
          expr("doc_id div 40").cast("string"),
          when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 2 === 1, lit("?utm_source=feed")).otherwise(lit(""))))
      withUrl
        .withColumn("canon",
          regexp_replace(
            regexp_replace(
              regexp_replace(lower(col("raw_url")), "\\?.*$", ""),
              "/$", ""),
            "://www\\.", "://"))
        .withColumn("domain", regexp_extract(col("canon"), "://([^/]+)/", 1))
        .groupBy("domain")
        .agg(countDistinct(col("canon")).as("n_pages"),
          count(lit(1)).as("n_docs"))
        .withColumn("n_url_dups", col("n_docs") - col("n_pages"))
        .orderBy("domain")
    },
    Some("""WITH u AS (SELECT doc_id,
                   (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END) ||
                   (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE 'www.' END) ||
                   source || '.example.com/p/' ||
                   CAST(doc_id // 40 AS VARCHAR) ||
                   (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
                   (CASE WHEN doc_id % 2 = 1 THEN '?utm_source=feed' ELSE '' END) AS raw_url
                 FROM documents),
            c AS (SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(lower(raw_url),
                     '\?.*$', ''), '/$', ''), '://www\.', '://') AS canon
                 FROM u),
            d AS (SELECT doc_id, canon,
                   regexp_extract(canon, '://([^/]+)/', 1) AS domain
                 FROM c)
            SELECT domain,
                   CAST(count(DISTINCT canon) AS BIGINT) AS n_pages,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(*) - count(DISTINCT canon) AS BIGINT) AS n_url_dups
            FROM d GROUP BY domain ORDER BY domain"""),
  )

  /** Cross-source contamination matrix: for every source pair, the number
    * of distinct word 5-grams both emit — the audit that shows WHICH
    * domains syndicate/copy from each other, steering dedup and mixing
    * decisions (a source pair sharing most of its n-grams should not both
    * be up-weighted).
    *
    * Scale shape: the gram stream shuffles once into DISTINCT
    * (source, gram) rows (partial-agg'd map-side); the pair join is
    * gram-keyed with per-gram fan-out bounded by the SOURCE count (≤ 20²
    * pairs per gram however often the gram occurs), so the quadratic is in
    * sources, never in documents. */
  private val crossSourceOverlap = QueryDef(
    "cross_source_overlap",
    (s, dir) => {
      // distinct + join on a 16-hex-char md5 prefix of the gram, not the
      // gram text: counts are identical (64-bit collision odds are
      // negligible, and BOTH engines hash, so even a collision agrees) and
      // the shuffle/join keys are fixed 16 bytes instead of ~40-char grams
      // fan the single-split scan before the gram explode + md5 kernel —
      // measured 0.63 s in ONE map task on the unsplit sf0.1 documents
      // file; the fan-out shuffles only (source, text), no-op at scale
      val sg = graft.Tables.fanOutSmall(
          docs(s, dir).select(col("source"), col("text"), col("doc_id")),
          s, dir, "documents", col("doc_id"))
        .select(col("source"), explode(wordNgramParts(col("text"), 5)).as("p"))
        .select(col("source"), substring(md5(gramOf(col("p"), 5)), 1, 16).as("g"))
        .distinct()
      sg.as("a")
        .join(sg.as("b"), col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
        .agg(count(lit(1)).as("n_shared_grams"))
        .orderBy("src1", "src2")
    },
    Some("""WITH toks AS (SELECT source, string_split(text, ' ') AS w FROM documents),
            gg AS (SELECT source,
                          unnest(list_transform(range(1, len(w) - 3),
                                 i -> array_to_string(w[i:i+4], ' '))) AS gtxt
                   FROM toks WHERE len(w) >= 5),
            g AS (SELECT DISTINCT source, substr(md5(gtxt), 1, 16) AS g FROM gg)
            SELECT a.source AS src1, b.source AS src2,
                   CAST(count(*) AS BIGINT) AS n_shared_grams
            FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2 ORDER BY src1, src2"""),
  )

  /** Cross-channel decontamination AGREEMENT report — the audit a real
    * curation run ships next to its drop list: per train source, how many
    * docs each channel flags (exact 5-grams, MinHash banding, embedding
    * similarity) and how many are flagged by ≥2 / ≥1 channels. Channel
    * agreement is the calibration signal — a doc all three flag is a
    * near-certain leak; an embedding-only flag is a semantic-match review
    * queue.
    *
    * Split asymmetry, documented deliberately: the text channels probe
    * `source='src0'` as the eval set; the embedding channel's fixture
    * eval split is `label=0` over the parallel `embeddings` table
    * (vec_id ≡ doc_id). Real pipelines run exactly this shape — each
    * channel defines eval membership in its own modality and the report
    * joins verdicts per doc id.
    *
    * Scale shape: reuses the three channels' own scale-safe cores (each
    * broadcasts its eval side); the verdict join is three flag tables
    * (flagged docs only) LEFT-joined to the train roster, then one
    * partial-agg'd per-source rollup. */
  private val decontaminateAgreement = QueryDef(
    "decontaminate_agreement",
    (s, dir) => {
      val train = docs(s, dir).filter(col("source") =!= "src0").select("source", "doc_id")
      val ng = ngramContaminationHits(s, dir).select(col("doc_id"), lit(1L).as("ng"))
      val mh = TextOps.minhashContaminationPairs(s, dir)
        .select(col("tid").as("doc_id")).distinct().withColumn("mh", lit(1L))
      val em = VectorOps.embedContaminationFlags(s, dir)
        .filter(col("contaminated") === 1L)
        .select(col("vec_id").as("doc_id"), lit(1L).as("em"))
      val flags = train
        .join(ng, Seq("doc_id"), "left")
        .join(mh, Seq("doc_id"), "left")
        .join(em, Seq("doc_id"), "left")
        .select(col("source"),
          coalesce(col("ng"), lit(0L)).as("ng"),
          coalesce(col("mh"), lit(0L)).as("mh"),
          coalesce(col("em"), lit(0L)).as("em"))
      flags
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ng")).as("n_ngram"),
          sum(col("mh")).as("n_minhash"),
          sum(col("em")).as("n_embed"),
          sum(when(col("ng") + col("mh") + col("em") >= 2L, 1L).otherwise(0L)).as("n_multi"),
          sum(when(col("ng") + col("mh") + col("em") >= 1L, 1L).otherwise(0L)).as("n_any"))
        .orderBy("source")
    },
    Some("""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
            grams AS MATERIALIZED (
              SELECT doc_id, source,
                     unnest(list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))) AS g
              FROM toks WHERE len(w) >= 5),
            bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
            nghit AS (SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
                      WHERE gr.source <> 'src0'),
            ts AS MATERIALIZED (
              SELECT doc_id, text,
                     list_filter(string_split(text, ' '), t -> len(t) > 0) AS ts
              FROM documents),
            sh AS MATERIALIZED (
              SELECT DISTINCT doc_id,
                     CASE WHEN len(ts) >= 3
                          THEN ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' ' || ts[CAST(i AS INT) + 2]
                          ELSE text END AS sh
              FROM ts, LATERAL (SELECT unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS i) g),
            sig AS MATERIALIZED (
              SELECT doc_id,
                     min(md5('1:' || sh)) AS h1, min(md5('2:' || sh)) AS h2,
                     min(md5('3:' || sh)) AS h3, min(md5('4:' || sh)) AS h4,
                     min(md5('5:' || sh)) AS h5, min(md5('6:' || sh)) AS h6,
                     min(md5('7:' || sh)) AS h7, min(md5('8:' || sh)) AS h8
              FROM sh GROUP BY doc_id),
            ev AS (SELECT s.* FROM sig s JOIN documents d ON d.doc_id = s.doc_id
                   WHERE d.source = 'src0'),
            tr AS (SELECT s.* FROM sig s JOIN documents d ON d.doc_id = s.doc_id
                   WHERE d.source <> 'src0'),
            cand AS MATERIALIZED (
              SELECT tr.doc_id AS tid, ev.doc_id AS eid
              FROM tr JOIN ev ON tr.h1 = ev.h1 AND tr.h2 = ev.h2
              UNION
              SELECT tr.doc_id, ev.doc_id
              FROM tr JOIN ev ON tr.h3 = ev.h3 AND tr.h4 = ev.h4
              UNION
              SELECT tr.doc_id, ev.doc_id
              FROM tr JOIN ev ON tr.h5 = ev.h5 AND tr.h6 = ev.h6
              UNION
              SELECT tr.doc_id, ev.doc_id
              FROM tr JOIN ev ON tr.h7 = ev.h7 AND tr.h8 = ev.h8),
            -- candidate-scoped per-doc SHINGLE SETS: the exact-Jaccard
            -- verify only ever touches banding candidates, and pairing
            -- through list_intersect keyed on doc_id leaves the planner no
            -- shingle-equality join path — the naive sh-join formulation
            -- let DuckDB pair every shared shingle across the slices
            -- first (a per-shingle cross product that spilled tens of GB
            -- at 100x before restricting to candidates)
            shT AS (SELECT s.doc_id, list(s.sh) AS ls FROM sh s
                    JOIN (SELECT DISTINCT tid FROM cand) t ON s.doc_id = t.tid
                    GROUP BY s.doc_id),
            shE AS (SELECT s.doc_id, list(s.sh) AS ls FROM sh s
                    JOIN (SELECT DISTINCT eid FROM cand) t ON s.doc_id = t.eid
                    GROUP BY s.doc_id),
            inter AS (
              SELECT c.tid, c.eid, len(list_intersect(a.ls, b.ls)) AS i,
                     len(a.ls) AS na, len(b.ls) AS nb
              FROM cand c
              JOIN shT a ON a.doc_id = c.tid
              JOIN shE b ON b.doc_id = c.eid),
            mhhit AS (SELECT DISTINCT tid AS doc_id FROM inter
                      WHERE CAST(i AS DOUBLE) / CAST(na + nb - i AS DOUBLE) >= 0.5),
            evv AS (SELECT vec_id AS eval_id, embedding AS ee FROM embeddings
                    WHERE label = 0 ORDER BY vec_id LIMIT 32),
            trv AS (SELECT vec_id, embedding FROM embeddings WHERE label <> 0),
            sv AS (SELECT trv.vec_id,
                   CAST(list_sum(list_transform(list_zip(trv.embedding, evv.ee),
                        p -> round(CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE) * 10000))) AS BIGINT) AS sim
                   FROM trv CROSS JOIN evv),
            emhit AS (SELECT DISTINCT vec_id AS doc_id FROM sv WHERE sim >= 4000),
            fl AS (SELECT d.source,
                          CASE WHEN ng.doc_id IS NOT NULL THEN 1 ELSE 0 END AS ng,
                          CASE WHEN mh.doc_id IS NOT NULL THEN 1 ELSE 0 END AS mh,
                          CASE WHEN em.doc_id IS NOT NULL THEN 1 ELSE 0 END AS em
                   FROM documents d
                   LEFT JOIN nghit ng ON ng.doc_id = d.doc_id
                   LEFT JOIN mhhit mh ON mh.doc_id = d.doc_id
                   LEFT JOIN emhit em ON em.doc_id = d.doc_id
                   WHERE d.source <> 'src0')
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ng) AS BIGINT) AS n_ngram,
                   CAST(sum(mh) AS BIGINT) AS n_minhash,
                   CAST(sum(em) AS BIGINT) AS n_embed,
                   CAST(sum(CASE WHEN ng + mh + em >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
                   CAST(sum(CASE WHEN ng + mh + em >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_any
            FROM fl GROUP BY source ORDER BY source"""),
  )

  /** End-to-end pretraining curation funnel in ONE declarative plan —
    * quality gate → exact dedup → benchmark decontamination →
    * deterministic sampling — reporting per-source survivor counts at
    * every stage plus the final token mass. This is the funnel report a
    * production curation run publishes; each stage reuses the exact
    * arithmetic of its standalone operator (`quality_classifier` score,
    * min-doc_id-per-text dedup, `decontaminate_ngrams` hits, the
    * `deterministic_sample` md5 bucket), so the composed numbers reconcile
    * against the individual audits.
    *
    * Scale shape: stage flags are narrow maps over one corpus scan except
    * two keyed steps — the dedup min is a window over the text key (one
    * hash shuffle; at 100 TB you'd key on xxhash64(text), same plan), and
    * the contamination set returns via a doc_id-keyed join whose flagged
    * side AQE may broadcast. The rollup is one partial-agg'd groupBy. */
  private val pretrainingPipeline = QueryDef(
    "pretraining_pipeline",
    (s, dir) => {
      val scored = docs(s, dir)
        .filter(col("source") =!= "src0") // the eval split never trains
        .selectExpr("doc_id", "source", "text",
          "CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT) AS nw",
          "CAST(size(filter(split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop",
          "CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters")
        .selectExpr("doc_id", "source", "text", "nw",
          s"$QualityScoreSql AS score")
        .withColumn("q", (col("score") >= 400L).cast("long"))
      val deduped = scored.withColumn("keep_id",
          min(when(col("q") === 1L, col("doc_id"))).over(Window.partitionBy("text")))
        .withColumn("dd",
          when(col("q") === 1L && col("doc_id") === col("keep_id"), 1L).otherwise(0L))
      val flagged = deduped
        .join(ngramContaminationHits(s, dir).select(col("doc_id"), lit(1L).as("contam")),
          Seq("doc_id"), "left")
        .withColumn("cl", when(col("dd") === 1L && col("contam").isNull, 1L).otherwise(0L))
        .withColumn("sp", when(col("cl") === 1L &&
          substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1) =!= "0",
          1L).otherwise(0L))
      flagged
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_input"),
          sum(col("q")).as("n_quality"),
          sum(col("dd")).as("n_dedup"),
          sum(col("cl")).as("n_clean"),
          sum(col("sp")).as("n_sampled"),
          sum(when(col("sp") === 1L, col("nw")).otherwise(0L)).as("tokens_kept"))
        .orderBy("source")
    },
    Some("""WITH base AS (
              SELECT doc_id, source, text,
                     CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nw,
                     CAST(len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop,
                     CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters
              FROM documents WHERE source <> 'src0'),
            sc AS (
              SELECT doc_id, source, text, nw,
                     500 + 2 * (CASE WHEN nw > 0 THEN (stop * 1000) // nw ELSE 0 END)
                       - abs((CASE WHEN nw > 0 THEN (letters * 1000) // nw ELSE 0 END) - 4000) // 4
                       AS score
              FROM base),
            q AS (SELECT *, CASE WHEN score >= 400 THEN 1 ELSE 0 END AS q FROM sc),
            dd AS (SELECT *,
                     min(CASE WHEN q = 1 THEN doc_id END) OVER (PARTITION BY text) AS keep_id
                   FROM q),
            dflag AS (SELECT *,
                     CASE WHEN q = 1 AND doc_id = keep_id THEN 1 ELSE 0 END AS dd
                   FROM dd),
            toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, source,
                     unnest(list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))) AS g
              FROM toks WHERE len(w) >= 5),
            bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
            contam AS (SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
                       WHERE gr.source <> 'src0'),
            fl AS (SELECT d.*,
                     CASE WHEN d.dd = 1 AND c.doc_id IS NULL THEN 1 ELSE 0 END AS cl,
                     CASE WHEN d.dd = 1 AND c.doc_id IS NULL AND
                          substring(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 1) <> '0'
                          THEN 1 ELSE 0 END AS sp
                   FROM dflag d LEFT JOIN contam c ON c.doc_id = d.doc_id)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_input,
                   CAST(sum(q) AS BIGINT) AS n_quality,
                   CAST(sum(dd) AS BIGINT) AS n_dedup,
                   CAST(sum(cl) AS BIGINT) AS n_clean,
                   CAST(sum(sp) AS BIGINT) AS n_sampled,
                   CAST(sum(CASE WHEN sp = 1 THEN nw ELSE 0 END) AS BIGINT) AS tokens_kept
            FROM fl GROUP BY source ORDER BY source"""),
  )

  /** Incremental curation — the batch-over-existing-state shape a
    * production pipeline runs nightly: a NEW crawl slice (doc_id % 10 ≥ 8,
    * plus a re-crawled overlap, doc_id % 25 = 0) is curated against the
    * STANDING state built from the already-ingested corpus (doc_id % 10
    * < 8): its exact-fingerprint index and the benchmark n-gram index.
    * Composes the green parts end-to-end — `pretraining_pipeline`'s
    * integer quality gate, `dedup_incremental`'s index anti-join,
    * `decontaminate_ngrams`' broadcast probe, the md5 deterministic
    * sample — as slice-row FLAGS in one funnel, so each source's
    * attrition (slice → quality → fresh-vs-index → in-slice dedup →
    * clean → sampled) reconciles row-for-row.
    *
    * Scale shape: the slice is scanned once and every per-doc flag is a
    * narrow projection on that scan; the only wide ops the slice pays are
    * the fp anti-probe (hash on fp — at 100 TB the standing index is the
    * big side and partitions by fp, the nightly slice is the small side),
    * one text-keyed window for in-slice dedup, and the final per-source
    * rollup. The benchmark n-gram set stays BROADCAST exactly as in
    * `decontaminate_ngrams` — the slice never wide-shuffles its grams. */
  private val curationIncremental = QueryDef(
    "curation_incremental",
    (s, dir) => {
      val d = docs(s, dir)
      val existingFp = d
        .filter(col("doc_id") % 10 < 8 && col("source") =!= "src0")
        .select(md5(col("text")).as("fp")).distinct()
      val slice = d
        .filter((col("doc_id") % 10 >= 8 || col("doc_id") % 25 === 0) &&
          col("source") =!= "src0")
        .selectExpr("doc_id", "source", "text", "md5(text) AS fp",
          "CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT) AS nw",
          "CAST(size(filter(split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop",
          "CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters")
        .selectExpr("doc_id", "source", "text", "fp", "nw",
          """500 + 2 * (CASE WHEN nw > 0 THEN (stop * 1000) div nw ELSE 0 END)
             - abs((CASE WHEN nw > 0 THEN (letters * 1000) div nw ELSE 0 END) - 4000) div 4
             AS score""")
        .withColumn("q", (col("score") >= 400L).cast("long"))
      val fresh = slice
        .join(existingFp.withColumn("hit", lit(1L)), Seq("fp"), "left")
        .withColumn("fr", when(col("q") === 1L && col("hit").isNull, 1L).otherwise(0L))
      val deduped = fresh.withColumn("keep_id",
          min(when(col("fr") === 1L, col("doc_id"))).over(Window.partitionBy("text")))
        .withColumn("dd",
          when(col("fr") === 1L && col("doc_id") === col("keep_id"), 1L).otherwise(0L))
      val flagged = deduped
        .join(ngramContaminationHits(s, dir).select(col("doc_id"), lit(1L).as("contam")),
          Seq("doc_id"), "left")
        .withColumn("cl", when(col("dd") === 1L && col("contam").isNull, 1L).otherwise(0L))
        .withColumn("sp", when(col("cl") === 1L &&
          substring(md5(concat(lit("split:"), col("doc_id").cast("string"))), 1, 1) =!= "0",
          1L).otherwise(0L))
      flagged
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_slice"),
          sum(col("q")).as("n_quality"),
          sum(col("fr")).as("n_fresh"),
          sum(col("dd")).as("n_dedup"),
          sum(col("cl")).as("n_clean"),
          sum(col("sp")).as("n_sampled"),
          sum(when(col("sp") === 1L, col("nw")).otherwise(0L)).as("tokens_kept"))
        .orderBy("source")
    },
    Some("""WITH base AS (
              SELECT doc_id, source, text, md5(text) AS fp,
                     CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nw,
                     CAST(len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop,
                     CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters
              FROM documents WHERE source <> 'src0'),
            existing AS (SELECT DISTINCT fp FROM base WHERE doc_id % 10 < 8),
            sc AS (
              SELECT doc_id, source, text, fp, nw,
                     500 + 2 * (CASE WHEN nw > 0 THEN (stop * 1000) // nw ELSE 0 END)
                       - abs((CASE WHEN nw > 0 THEN (letters * 1000) // nw ELSE 0 END) - 4000) // 4
                       AS score
              FROM base WHERE doc_id % 10 >= 8 OR doc_id % 25 = 0),
            q AS (SELECT *, CASE WHEN score >= 400 THEN 1 ELSE 0 END AS q FROM sc),
            fr AS (SELECT q.*, CASE WHEN q.q = 1 AND e.fp IS NULL THEN 1 ELSE 0 END AS fr
                   FROM q LEFT JOIN existing e ON e.fp = q.fp),
            dd0 AS (SELECT *,
                      min(CASE WHEN fr = 1 THEN doc_id END) OVER (PARTITION BY text) AS keep_id
                    FROM fr),
            dflag AS (SELECT *, CASE WHEN fr = 1 AND doc_id = keep_id THEN 1 ELSE 0 END AS dd
                      FROM dd0),
            toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, source,
                     unnest(list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))) AS g
              FROM toks WHERE len(w) >= 5),
            bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
            contam AS (SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
                       WHERE gr.source <> 'src0'),
            fl AS (SELECT d.*,
                     CASE WHEN d.dd = 1 AND c.doc_id IS NULL THEN 1 ELSE 0 END AS cl,
                     CASE WHEN d.dd = 1 AND c.doc_id IS NULL AND
                          substring(md5('split:' || CAST(d.doc_id AS VARCHAR)), 1, 1) <> '0'
                          THEN 1 ELSE 0 END AS sp
                   FROM dflag d LEFT JOIN contam c ON c.doc_id = d.doc_id)
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_slice,
                   CAST(sum(q) AS BIGINT) AS n_quality,
                   CAST(sum(fr) AS BIGINT) AS n_fresh,
                   CAST(sum(dd) AS BIGINT) AS n_dedup,
                   CAST(sum(cl) AS BIGINT) AS n_clean,
                   CAST(sum(sp) AS BIGINT) AS n_sampled,
                   CAST(sum(CASE WHEN sp = 1 THEN nw ELSE 0 END) AS BIGINT) AS tokens_kept
            FROM fl GROUP BY source ORDER BY source"""),
  )

  /** X94 mixing schedule — the data-recipe artifact a multi-source run
    * actually trains from: given the X68 temperature-α=1/2 mixture weights
    * and a total budget of TWO corpus epochs of characters (B = 2·Σchars,
    * the "see the data about twice" default), the per-source draw and the
    * resulting epoch count. chars_drawn = ⌊B·w/Σw⌋, epochs_x100 =
    * ⌊100·chars_drawn/n_chars⌋; a source is UPSAMPLED when its epochs
    * exceed the uniform 2.00 — temperature flattening up-weights small
    * domains at the expense of large ones, and this table is where that
    * trade becomes auditable (the report DoReMi/UNIMAX-style recipes ship
    * beside their weights).
    *
    * Exactness: the B·w product is widened to DECIMAL(38,0) BEFORE the
    * integer division — at 100 TB (Σchars ~ 10^14, w ~ √(10^14·10^4) =
    * 10^9) the product is ~2·10^23, past int64; both engines multiply in
    * 128-bit and the quotient (≤ B) lands back in BIGINT. The weight
    * kernel is the same float-seeded, CASE-corrected exact isqrt as
    * `mixture_weights` (property-tested there against BigInt).
    *
    * Scale: one partial-aggregated groupBy over the corpus (|sources| rows
    * out), then a broadcast 1-row total — identical shape to
    * `mixture_weights`; the 100 TB side is scanned once. */
  private val mixingSchedule = QueryDef(
    "mixing_schedule",
    (s, dir) => {
      val m = docs(s, dir)
        .groupBy("source")
        .agg(sum(col("n_chars").cast("long")).as("n_chars"))
        .withColumn("s0", expr("cast(floor(sqrt(cast(n_chars * 10000 AS DOUBLE))) AS BIGINT)"))
        .withColumn("weight_scaled", expr(
          """CASE WHEN (s0+1)*(s0+1) <= n_chars*10000 THEN s0+1
                  WHEN s0*s0 > n_chars*10000 THEN s0-1
                  ELSE s0 END"""))
        .drop("s0")
      val tot = m.agg(sum("weight_scaled").as("wtot"), sum("n_chars").as("ctot"))
      m.crossJoin(broadcast(tot))
        .withColumn("chars_drawn", expr(
          "cast((cast(2 * ctot AS DECIMAL(38,0)) * weight_scaled) div wtot AS BIGINT)"))
        .withColumn("epochs_x100", expr("(chars_drawn * 100) div n_chars"))
        .select(col("source"), col("n_chars"), col("weight_scaled"),
          col("chars_drawn"), col("epochs_x100"),
          (col("epochs_x100") > 200).cast("long").as("upsampled"))
        .orderBy("source")
    },
    Some("""WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_chars
            FROM documents GROUP BY 1),
            w AS (SELECT *, CAST(floor(sqrt(CAST(n_chars * 10000 AS DOUBLE))) AS BIGINT) AS s0 FROM s),
            w2 AS (SELECT source, n_chars,
                   CASE WHEN (s0+1)*(s0+1) <= n_chars*10000 THEN s0+1
                        WHEN s0*s0 > n_chars*10000 THEN s0-1
                        ELSE s0 END AS weight_scaled FROM w),
            t AS (SELECT CAST(sum(weight_scaled) AS BIGINT) AS wtot,
                         CAST(sum(n_chars) AS BIGINT) AS ctot FROM w2),
            d AS (SELECT source, n_chars, weight_scaled,
                   CAST((CAST(2 * ctot AS HUGEINT) * weight_scaled) // wtot AS BIGINT) AS chars_drawn
                  FROM w2, t)
            SELECT source, n_chars, weight_scaled, chars_drawn,
                   CAST((chars_drawn * 100) // n_chars AS BIGINT) AS epochs_x100,
                   CAST(CASE WHEN (chars_drawn * 100) // n_chars > 200 THEN 1 ELSE 0 END AS BIGINT) AS upsampled
            FROM d ORDER BY source"""),
  )

  /** X95 shard manifest — the artifact the WRITE side of a curation run
    * publishes: documents assigned to 16 output shards by an md5 draw on
    * the doc id (reshard-stable like `deterministic_sample` — membership
    * is a pure function of the id, never of partitioning), and per shard
    * the doc/token/char mass, the id range, and an ORDER-INDEPENDENT
    * content checksum — the sum of each doc's 60-bit md5-text prefix,
    * accumulated in DECIMAL(38,0) and surfaced mod 2^60. Because the
    * checksum is a commutative sum, two writers that partition the corpus
    * differently produce byte-identical manifests, which is exactly what
    * makes the manifest usable as a cross-run integrity check
    * (TrainingMixOpsSpec asserts the invariance; WebDataset-style shard
    * listings carry the same per-shard digests).
    *
    * Scale: one narrow scan (shard/hash are per-row projections) into a
    * 16-key partial aggregate — map-side combine reduces each executor's
    * output to at most 16 rows before the only exchange. */
  private[graft] def shardManifestOp(d: DataFrame): DataFrame =
    d.select(col("doc_id").cast("long").as("doc_id"),
        expr("cast(conv(substring(md5(concat('shard:', cast(doc_id AS STRING))), 1, 2), 16, 10) AS BIGINT) % 16")
          .as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        col("n_chars").cast("long").as("n_chars"),
        expr("cast(conv(substring(md5(text), 1, 15), 16, 10) AS DECIMAL(38,0))").as("h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        expr("cast(sum(h) % 1152921504606846976 AS BIGINT)").as("checksum60"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")

  private val shardManifest = QueryDef(
    "shard_manifest",
    (s, dir) => shardManifestOp(docs(s, dir)),
    Some("""WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(concat('0x', substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 2)) AS BIGINT) % 16 AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h
            FROM documents)
            SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(sum(h) % 1152921504606846976 AS BIGINT) AS checksum60,
                   CAST(min(doc_id) AS BIGINT) AS min_doc,
                   CAST(max(doc_id) AS BIGINT) AS max_doc
            FROM t GROUP BY shard ORDER BY shard"""),
  )

  /** X96 curriculum ordering — quality-ordered training curriculum: every
    * doc's GLOBAL ordinal under (quality score desc, doc_id) plus its
    * decile, the artifact behind score-ordered / staged training schedules.
    * The score is `quality_weighted_sample`'s integer p_scaled, so the
    * ranking is exact and ties are impossible (doc_id breaks them).
    *
    * Scale: a global row_number over ONE window partition sends 100 TB
    * through a single reducer — the same trap `sequence_pack_global`
    * avoids, solved the same way: `repartitionByRange` on the sort key
    * spreads the total order across the cluster (range boundaries from
    * sampling, pinned by localCheckpoint so both passes see identical
    * partitions), pass 1 ships ONE count per partition to the driver,
    * pass 2 is a narrow map adding each partition's exact start offset.
    * Output is partition-count-invariant (TrainingMixOpsSpec asserts 3 vs 8)
    * and equals the single-window formulation, which is what the DuckDB
    * oracle computes. */
  private[graft] def curriculumOrderOp(d: DataFrame, numParts: Int): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val scored = d
      .selectExpr("cast(doc_id AS BIGINT) AS doc_id",
        "cast(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT) AS nw",
        "cast(size(filter(split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop",
        "cast(length(replace(text, ' ', '')) AS BIGINT) AS letters")
      .selectExpr("doc_id",
        "CASE WHEN nw > 0 THEN (stop * 1000) div nw ELSE 0 END AS srs",
        "CASE WHEN nw > 0 THEN (letters * 1000) div nw ELSE 0 END AS wls")
      .selectExpr("doc_id",
        "greatest(0L, least(1000L, 500 + 2 * srs - abs(wls - 4000) div 4)) AS p_scaled")
    val parts = scored
      .repartitionByRange(numParts, col("p_scaled").desc, col("doc_id").asc)
      .sortWithinPartitions(col("p_scaled").desc, col("doc_id").asc)
      .as[(Long, Long)]
      // pin the partitioning: pass 2 must see the SAME partitions pass 1
      // counted (range boundaries come from sampling; don't recompute)
      .localCheckpoint()
    val partCounts = parts.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var n = 0L; it.foreach(_ => n += 1); Iterator((pid, n))
    }.collect().sortBy(_._1) // one count per partition — driver-tiny
    val total = math.max(partCounts.map(_._2).sum, 1L)
    val offsets = partCounts.map(_._1).zip(
      partCounts.map(_._2).scanLeft(0L)(_ + _).init).toMap
    val bco = s.sparkContext.broadcast(offsets)
    parts.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var ord = bco.value.getOrElse(pid, 0L)
        it.map { case (id, p) => ord += 1; (id, p, ord) }
      }.toDF("doc_id", "p_scaled", "ordinal")
      .withColumn("decile", expr(s"((ordinal - 1) * 10) div ${total}L"))
      .orderBy("ordinal")
  }

  private val curriculumOrder = QueryDef(
    "curriculum_order",
    (s, dir) => curriculumOrderOp(docs(s, dir),
      numParts = s.sessionState.conf.numShufflePartitions),
    Some("""WITH f AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nw,
                   CAST(len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop,
                   CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters
            FROM documents),
            r AS (SELECT doc_id,
                   CASE WHEN nw > 0 THEN (stop * 1000) // nw ELSE 0 END AS srs,
                   CASE WHEN nw > 0 THEN (letters * 1000) // nw ELSE 0 END AS wls FROM f),
            sc AS (SELECT doc_id,
                   greatest(0, least(1000, 500 + 2 * srs - abs(wls - 4000) // 4)) AS p_scaled FROM r),
            o AS (SELECT doc_id, p_scaled,
                   row_number() OVER (ORDER BY p_scaled DESC, doc_id) AS ordinal FROM sc),
            n AS (SELECT count(*) AS n FROM sc)
            SELECT doc_id, CAST(p_scaled AS BIGINT) AS p_scaled,
                   CAST(ordinal AS BIGINT) AS ordinal,
                   CAST(((ordinal - 1) * 10) // n AS BIGINT) AS decile
            FROM o, n ORDER BY ordinal"""),
  )

  /** X98 packing efficiency — the batch-shape audit a training run reads
    * before trusting its packed sequences: per source, bin count, token
    * mass, capacity (bins × the 512-token budget), fill rate in exact
    * per-mille, overfull-bin count (a bin exceeds the budget exactly when
    * a single document is longer than the budget — the signal that the
    * corpus needs `context_chunks` splitting before packing), and the
    * largest bin. Composes the proven skew-safe `sequence_pack` and
    * aggregates its bins per source — the report is |sources| rows, and
    * fill_permille > ~950 is what "packing is not wasting compute" means
    * operationally.
    *
    * Scale: everything downstream of the pack is a per-source rollup of
    * bin-count-sized data; the pack itself is the spec'd skew-safe
    * bucketed prefix sum. */
  private val packingEfficiency = QueryDef(
    "packing_efficiency",
    (s, dir) => sequencePackOp(docs(s, dir),
        buckets = s.sessionState.conf.numShufflePartitions)
      .groupBy("source")
      .agg(count(lit(1)).as("n_bins"),
        sum("seq_tokens").as("total_tokens"),
        sum((col("seq_tokens") > lit(B)).cast("long")).as("n_overfull"),
        max("seq_tokens").as("max_bin_tokens"))
      .withColumn("capacity", col("n_bins") * lit(B))
      .withColumn("fill_permille", expr("(total_tokens * 1000) div capacity"))
      .orderBy("source"),
    Some(s"""WITH t AS (SELECT source, doc_id,
                    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens FROM documents),
            c AS (SELECT source, doc_id, n_tokens,
                    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t),
            bins AS (SELECT source,
                    CAST(floor(CAST(cum - n_tokens AS DOUBLE) / $B.0) AS BIGINT) AS seq_id,
                    CAST(sum(n_tokens) AS BIGINT) AS seq_tokens
                   FROM c GROUP BY 1, 2)
            SELECT source, CAST(count(*) AS BIGINT) AS n_bins,
                   CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(CASE WHEN seq_tokens > $B THEN 1 ELSE 0 END) AS BIGINT) AS n_overfull,
                   CAST(max(seq_tokens) AS BIGINT) AS max_bin_tokens,
                   CAST(count(*) * $B AS BIGINT) AS capacity,
                   CAST((sum(seq_tokens) * 1000) // (count(*) * $B) AS BIGINT) AS fill_permille
            FROM bins GROUP BY source ORDER BY source"""),
  )

  /** X99 dataset card — the datasheet a published corpus ships (HF dataset
    * cards / the Dolma report): per source, size (docs / tokens / chars /
    * distinct languages), quality-gate pass rate, exact-duplicate rate,
    * benchmark-contamination rate, and the mean clamped quality score —
    * every rate an exact per-mille. Composes the PROVEN pieces one more
    * time (the `pretraining_pipeline` score, the keep-first text window,
    * the broadcast 5-gram contamination probe), so the card can never
    * drift from the operators it summarizes. The mean uses the CLAMPED
    * [0,1000] score: a raw sum could go negative, where Spark's `div`
    * truncates toward zero but DuckDB's `//` floors — clamping keeps both
    * engines on the same positive-floor arithmetic.
    *
    * Scale: one corpus scan with narrow flags, one text-keyed window, one
    * broadcast gram semi-probe (eval side tiny by construction), and a
    * |sources|-row rollup — the same shapes the composed operators are
    * individually plan-asserted to. */
  private val datasetCard = QueryDef(
    "dataset_card",
    (s, dir) => {
      val base = docs(s, dir)
        .selectExpr("doc_id", "source", "lang", "text",
          "CAST(n_chars AS BIGINT) AS n_chars",
          "CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT) AS nw",
          "CAST(size(filter(split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop",
          "CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters")
        .selectExpr("doc_id", "source", "lang", "text", "n_chars", "nw",
          """500 + 2 * (CASE WHEN nw > 0 THEN (stop * 1000) div nw ELSE 0 END)
             - abs((CASE WHEN nw > 0 THEN (letters * 1000) div nw ELSE 0 END) - 4000) div 4
             AS score""")
      val dup = base
        .withColumn("keep_id", min(col("doc_id")).over(Window.partitionBy("text")))
        .withColumn("is_dup", (col("doc_id") =!= col("keep_id")).cast("long"))
      dup
        .join(ngramContaminationHits(s, dir).select(col("doc_id"), lit(1L).as("contam")),
          Seq("doc_id"), "left")
        .withColumn("is_contam", when(col("contam").isNotNull, 1L).otherwise(0L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("lang")).as("n_langs"),
          sum("nw").as("total_tokens"),
          sum("n_chars").as("total_chars"),
          expr("(sum(CASE WHEN score >= 400 THEN 1 ELSE 0 END) * 1000) div count(1)")
            .as("quality_pass_permille"),
          expr("(sum(is_dup) * 1000) div count(1)").as("dup_permille"),
          expr("(sum(is_contam) * 1000) div count(1)").as("contaminated_permille"),
          expr("sum(greatest(0L, least(1000L, score))) div count(1)").as("mean_score"))
        .orderBy("source")
    },
    Some("""WITH base AS (
              SELECT doc_id, source, lang, text, CAST(n_chars AS BIGINT) AS n_chars,
                     CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS nw,
                     CAST(len(list_filter(string_split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT) AS stop,
                     CAST(length(replace(text, ' ', '')) AS BIGINT) AS letters
              FROM documents),
            sc AS (
              SELECT *, 500 + 2 * (CASE WHEN nw > 0 THEN (stop * 1000) // nw ELSE 0 END)
                     - abs((CASE WHEN nw > 0 THEN (letters * 1000) // nw ELSE 0 END) - 4000) // 4
                     AS score
              FROM base),
            dd AS (SELECT *, min(doc_id) OVER (PARTITION BY text) AS keep_id FROM sc),
            toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, source,
                     unnest(list_transform(range(1, len(w) - 3),
                            i -> array_to_string(w[i:i+4], ' '))) AS g
              FROM toks WHERE len(w) >= 5),
            bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
            contam AS (SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
                       WHERE gr.source <> 'src0'),
            fl AS (SELECT d.*,
                     CASE WHEN d.doc_id <> d.keep_id THEN 1 ELSE 0 END AS is_dup,
                     CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_contam
                   FROM dd d LEFT JOIN contam c ON c.doc_id = d.doc_id)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(sum(nw) AS BIGINT) AS total_tokens,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST((sum(CASE WHEN score >= 400 THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT) AS quality_pass_permille,
                   CAST((sum(is_dup) * 1000) // count(*) AS BIGINT) AS dup_permille,
                   CAST((sum(is_contam) * 1000) // count(*) AS BIGINT) AS contaminated_permille,
                   CAST(sum(greatest(0, least(1000, score))) // count(*) AS BIGINT) AS mean_score
            FROM fl GROUP BY source ORDER BY source"""),
  )

  def defs: Seq[QueryDef] =
    Seq(decontaminateNgrams, repetitionSignals, sequencePack, sequencePackGlobal,
      domainBudgetSample, repeatedNgramSpans, substringDedupTrim, paragraphDedup,
      contextChunks,
      urlCanonicalDedup, crossSourceOverlap, decontaminateAgreement, pretrainingPipeline,
      curationIncremental, mixingSchedule, shardManifest, curriculumOrder,
      packingEfficiency, datasetCard)
}
