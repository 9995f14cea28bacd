package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Differential checks for the split-leakage and incremental curation
  * operators (X84–X86: leakage guard, n-gram novelty, hard negatives,
  * incremental MinHash / pHash): re-derive each operator's core quantity
  * with an independent formulation and assert agreement, mirroring
  * TextQualityOpsSpec / CurationRecallOpsSpec.
  */
class IncrementalLeakageOpsSpec extends SparkSpec {

  test("split_leakage_guard: guarded split leaks zero pairs, partitions the probe set, and clusters move together") {
    val s = spark
    val out = Registry.queries("split_leakage_guard")(s, sf).localCheckpoint()
    val rows = out.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows.keySet == Set("naive", "guarded"))
    val probe = Tables.documents(s, sf).filter(col("doc_id") < 300).count()
    for ((m, (tr, va, _)) <- rows)
      assert(tr + va == probe, s"$m split does not partition the $probe probe docs")
    assert(rows("guarded")._3 == 0, "guarded split leaked near-dup pairs")
    // every component's members share one guarded split: recompute the
    // assignment from the closure and count distinct splits per component
    val comps = operators.TextOps.dupComponents(s, sf)
      .select(col("id").cast("long").as("doc_id"), col("comp").cast("long").as("comp"))
    val splitOf = when(
      substring(md5(concat(lit("split:"), col("comp").cast("string"))), 1, 1) === "0",
      "val").otherwise("train")
    val broken = comps.withColumn("split", splitOf)
      .groupBy("comp").agg(countDistinct("split").as("k"))
      .filter(col("k") > 1).count()
    assert(broken == 0, "a duplicate component straddles the guarded boundary")
  }

  test("ngram_novelty: first doc is all-novel, novel counts sum to the distinct gram universe") {
    val s = spark
    val out = Registry.queries("ngram_novelty")(s, sf).localCheckpoint()
    val first = out.orderBy("doc_id").limit(1).collect()(0)
    assert(first.getLong(3) == 100,
      s"earliest doc must be 100% novel, got ${first.getLong(3)}")
    val bad = out.filter(col("n_novel") > col("n_grams")).count()
    assert(bad == 0, "n_novel exceeds n_grams")
    // each distinct corpus gram is novel in exactly one doc (its first)
    val ts = split(col("text"), " ")
    val cnt = greatest(size(ts) - 2, lit(0))
    val universe = Tables.documents(s, sf)
      .select(explode(arrays_zip(
        slice(ts, lit(1), cnt), slice(ts, lit(2), cnt), slice(ts, lit(3), cnt))).as("p"))
      .select(concat_ws(" ", col("p")("0"), col("p")("1"), col("p")("2")).as("g"))
      .distinct().count()
    val novelSum = out.agg(sum("n_novel")).collect()(0).getLong(0)
    assert(novelSum == universe,
      s"sum of per-doc novel grams ($novelSum) != distinct corpus grams ($universe)")
  }

  test("hard_negatives: negatives stay below the near-dup boundary and match an independent window ranking") {
    val s = spark
    val out = Registry.queries("hard_negatives")(s, sf).localCheckpoint()
    assert(out.filter(col("score") >= 4000).count() == 0,
      "a mined negative is inside the near-dup band")
    // independent formulation: global window over the full scored stream
    // (no partial heap), plus a brute near-dup recount
    graft.functions.DotScaled.register(s)
    val e = Tables.embeddings(s, sf)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        graft.functions.DotScaled.dotScaled(col("qe"), col("embedding")).as("score"))
      .localCheckpoint()
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("neighbor_id"))
    val expect = scored.filter(col("score") < 4000)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 5)
      .join(
        scored.groupBy("qid")
          .agg(sum(when(col("score") >= 4000, 1L).otherwise(0L)).as("n_near_dup")),
        Seq("qid"))
      .select("qid", "neighbor_id", "score", "rn", "n_near_dup")
    assert(out.select("qid", "neighbor_id", "score", "rn", "n_near_dup")
      .exceptAll(expect).count() == 0, "operator emitted a row the window ranking lacks")
    assert(expect.exceptAll(
      out.select("qid", "neighbor_id", "score", "rn", "n_near_dup")).count() == 0,
      "window ranking has a row the operator missed")
  }

  test("minhash_incremental agrees with minhash_dedup's cross-split pairs per slice doc") {
    val s = spark
    // a doc's signature is a per-doc computation, so the corpus-wide
    // self-join's verified pairs restricted to (slice, corpus) splits must
    // aggregate to exactly the incremental screen's output
    val out = Registry.queries("minhash_incremental")(s, sf).localCheckpoint()
    val pairs = Registry.queries("minhash_dedup")(s, sf).localCheckpoint()
    val cross = pairs
      .select(col("id1"), col("id2"), col("jaccard"))
      .flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        Seq((a, b, j), (b, a, j))
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble))
      .toDF("slice_id", "corpus_id", "jaccard")
      .filter(col("slice_id") % 10 >= 8 && col("corpus_id") % 10 < 8)
      .groupBy("slice_id")
      .agg(count(lit(1)).as("n_dups"), min("corpus_id").as("first_dup"),
        max("jaccard").as("max_jaccard"))
    assert(out.exceptAll(cross).count() == 0 && cross.exceptAll(out).count() == 0,
      "incremental screen diverged from the corpus-wide pair list")
    assert(out.count() > 0, "fixture must contain cross-split near-dups")
  }

  test("multimodal_phash_incremental flags a planted cross-split retouch, and only it") {
    // the sf0.001/sf0.01 fixtures carry no hamming<=3 image pairs (the
    // planted near-dups only appear at sf0.1+), so the check PLANTS its
    // own corpus: slice doc 18 is a one-character retouch of corpus doc 3;
    // two unrelated random docs must stay silent
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(11)
    def txt(n: Int): String = new String(Array.fill(n)(('a' + rng.nextInt(26)).toChar))
    val base = txt(256)
    val retouch = base.updated(40, (base(40) ^ 1).toChar)
    val docs = Seq((3L, base), (5L, txt(256)), (18L, retouch), (28L, txt(256)))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("phash_inc").toString
    docs.write.parquet(dir + "/documents.parquet")

    val sig = graft.operators.Multimodal.dctHash(
        docs.select(col("doc_id"), encode(col("text"), "utf-8")).as[(Long, Array[Byte])])
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val h = java.lang.Long.bitCount(sig(3L) ^ sig(18L)).toLong
    assert(h <= 3, s"retouch moved the pHash $h bits — planted pair is broken")

    val out = Registry.queries("multimodal_phash_incremental")(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq((18L, 1L, 3L, h)), s"got $out, want Seq((18,1,3,$h))")
  }
}
