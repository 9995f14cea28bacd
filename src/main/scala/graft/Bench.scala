package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with total + per-query seconds over
  * SparkEntry.queries at SPARK_GRAFT_SF_DIR (contract per the builder
  * prompt). A short untimed warmup (scan each input table + one tiny write)
  * runs first so codegen/classloading/committer setup doesn't land on
  * whichever query happens to run first.
  *
  * Timing defenses (the driver runs on a shared box):
  *   - every query is timed in TWO full interleaved passes (all queries
  *     once, then all again) and the min is reported — a transient load
  *     spike hits different queries in each pass, unlike back-to-back
  *     reps which round 4 showed share the same spike window;
  *   - a final canary re-times the first query so a contended run is
  *     self-evident in the artifact.
  *
  * Output-size defense: the driver captures only the LAST 2000 chars of
  * stdout (observed across BENCH_r01–r04: a full ~2.8 KB per-query map has
  * NEVER parsed), so the final line carries a curated headline subset and
  * stays well under the window; the full per-query map goes to
  * bench_out.json and to an earlier (allowed-to-truncate) stdout line.
  */
object Bench {
  /** Representative queries across all SURVEY §2 families — kept ≈30 so the
    * final JSON line stays < ~1.3 KB (driver tail window is 2000 chars
    * minus sbt's trailing "[success]" line). */
  private val headline = Seq(
    "complex_agg", "pricing_summary", "daily_count_avg", "monthly_revenue",
    "join_revenue_by_nation", "join_top_customers", "join_semi_big_spenders",
    "window_rank", "cumulative_revenue", "order_topk", "pivot_agg",
    "percentiles", "skew_salted_agg", "pushdown_count", "json_bucket_agg",
    "variant_get", "dedup_exact", "minhash_dedup", "dedup_components",
    // memo-PAYING queries (VERDICT r19 item 6): the closure/training cost
    // the cheap memo consumers above don't show must be driver-visible.
    // bpe_encode is the family's alphabetical-order memo payer; bpe_merges
    // rides the memo (~0.09 s) and is included so BOTH sides are visible
    "dedup_cluster_stats", "bpe_merges", "bpe_encode",
    "cosine_topk", "ann_ivf_topk", "curation_pipeline", "doc_fingerprint",
    "token_counts", "multimodal_binary_meta", "icelite_append_read",
    "icelite_delete_mor", "icelite_merge", "icelite_compaction",
    "icelite_zorder", "icelite_time_travel", "iceberg_export_read")

  /** The heaviest bench queries that read only documents/orders/lineitem/
    * embeddings (the four tables the synthetic scale-up generates) — the
    * sf1 set.
    * One 10× scale point catches nonlinear blowups the sf0.1 bench can't
    * see (it caught the minhash kernel's allocation superlinearity). */
  private val sf1Heavies = Seq("dedup_components", "icelite_zorder",
    "minhash_dedup", "icelite_compaction", "icelite_merge",
    "dedup_resolve", "icelite_partition_evolution", "decontaminate_ngrams",
    "repeated_ngram_spans", "pagerank_topk", "bm25_topk",
    "triangle_count", "bpe_merges", "embed_kmeans", "substring_dedup_trim",
    "icelite_cdc_apply", "quantile_sketch_grouped",
    "minhash_decontaminate", "rare_bigram_rate", "edit_distance_pairs",
    "gopher_quality_rules",
    // round-10 wave heavies: keep the spot set honest as the registry grows
    "split_leakage_guard", "icelite_rewrite_deletes", "minhash_incremental",
    "ann_recall_report", "ngram_novelty",
    "paragraph_dedup", "tokenizer_fertility", "dedup_cluster_stats",
    "curriculum_order", "shard_manifest", "mixing_schedule",
    "dedup_recall_report", "packing_efficiency", "dataset_card", "embedding_drift",
    // round-12: the Iceberg-format export round trip (full-table rewrite op)
    "iceberg_export_read",
    // round-14: variant across the interop boundary, migrate-in, REST commit
    "iceberg_export_variant", "iceberg_adopt", "icelite_rest_commit",
    // round-16: adopt history/MoR, delta-aware REST export chain
    "iceberg_adopt_history", "iceberg_adopt_mor", "icelite_rest_delta",
    // round-18: schema-evolved lineage adoption
    "iceberg_adopt_evolved")

  /** Deterministic 10× scale-up, cached under /tmp (no driver-generated sf1
    * parquet exists) — now generates the FULL table set so the complete
    * registry can be validated at 10× (see [[graft.tools.ScaleUp]] for the
    * scaling scheme). */
  private def ensureSf1(spark: SparkSession, base: String): String =
    graft.tools.ScaleUp.ensure(spark, base)

  def main(args: Array[String]): Unit = {
    val sf1Mode = args.headOption.contains("sf1")
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session()
    val sfDir = if (sf1Mode) ensureSf1(spark, baseDir) else baseDir

    // untimed warmup — warm whichever tables exist in the target dir
    try {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings")
        .filter(t => new java.io.File(s"$sfDir/$t.parquet").exists)
        .foreach(t => Tables.raw(spark, sfDir, t).count())
      if (new java.io.File(s"$sfDir/events.parquet").exists)
        Tables.events(spark, sfDir).count()
      val wtmp = java.nio.file.Files.createTempDirectory("bench_warm").toString
      spark.range(1000).toDF("i").write.parquet(wtmp + "/w")
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: ${e.getMessage}") }

    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    }
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run — targeted re-timing while
    // iterating; the sf1 mode defaults to the sf1 heavies
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(_.trim) match {
      // "all" runs the FULL registry even in sf1 mode (the full-registry
      // 10x scale artifact), overriding the heavies default
      case Some("all") => None
      case Some(list) => Some(list.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      case None => if (sf1Mode) Some(sf1Heavies.toSet) else None
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // two full interleaved passes; per-query min. The session-level dedup
    // closure memo is cleared per pass: the first consumer pays the real
    // closure cost in EACH pass (so its min is honest), the second reads
    // the memo (so the pair's total is one closure + ε, as in production)
    graft.operators.TextOps.resetSessionMemo()
    val passA = sorted.map { case (name, fn) => name -> timeOnce(name, fn) }.toMap
    graft.operators.TextOps.resetSessionMemo()
    // SPARK_GRAFT_PASSES=1 skips the second interleaved pass — for the
    // very long full-registry scale points (100×), where per-query
    // runtimes are large enough that the min-of-two noise defense buys
    // little and doubles a multi-hour run
    val passB =
      if (sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt < 2)
        sorted.map { case (name, _) => name -> Option.empty[Double] }.toMap
      else sorted.map { case (name, fn) =>
        name -> (if (passA(name).isDefined) timeOnce(name, fn) else None)
      }.toMap
    val results0 = sorted.map { case (name, _) =>
      val runs = passA(name).toSeq ++ passB(name).toSeq
      name -> runs.sorted.headOption.getOrElse(0.0)
    }
    // in-sweep outlier re-timing: single-pass scale sweeps (the 10×/100×
    // points run SPARK_GRAFT_PASSES=1) ship 2–4 wild JVM/page-cache
    // transients per run that otherwise need manual re-adjudication every
    // round. Any query above max(3 s, 8× the sweep median) re-times once
    // after a System.gc(); the artifact records BOTH numbers
    // ("retimed": {q: {"raw": …, "sec": …}}) and the headline takes the
    // min — the same min-of-runs semantics as the two-pass defense.
    val med = results0.map(_._2).sorted.lift(results0.size / 2).getOrElse(0.0)
    // SPARK_GRAFT_RETIME_FLOOR overrides the floor (test hook: force many
    // dispositions in one sweep to verify they ALL record in the artifact)
    val outlierFloor = sys.env.get("SPARK_GRAFT_RETIME_FLOOR").map(_.toDouble)
      .getOrElse(math.max(3.0, 8.0 * med))
    val retimed: Seq[(String, Double, Double)] =
      results0.filter(_._2 > outlierFloor).flatMap { case (name, raw) =>
        System.gc()
        // measurement honesty: clear the session memos exactly like a
        // fresh pass does — without this, re-timing a memo-PAYING query
        // (e.g. the dedup closure's first consumer) reads the memo pass B
        // populated and folds an artificially cheap number into the
        // headline. Pure memo CONSUMERS now over-pay in a retime, but
        // they are never outliers (their raw is far below the floor).
        graft.operators.TextOps.resetSessionMemo()
        sorted.find(_._1 == name).flatMap { case (_, fn) =>
          timeOnce(name, fn).map(re => (name, raw, re)) }
      }
    val results = results0.map { case (n, v) =>
      n -> retimed.find(_._1 == n).map(t => math.min(t._2, t._3)).getOrElse(v) }
    // canary: re-time the first query at the very end — a contended run
    // shows a canary far above that query's reported min
    val canary = sorted.headOption.flatMap { case (name, fn) =>
      timeOnce(name, fn).map(name -> _) }

    // perf probes, emitted as metrics (not ignored tests): raw parquet
    // write cost, and the codegen-expression vs interpreted-HOF fingerprint
    // times — the regression canaries for write-path overhead and for hot
    // loops accidentally falling out of codegen
    import org.apache.spark.sql.functions.{col, expr, max => fmax}
    def probeOnce(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val probes: Seq[(String, Double)] =
      try {
        val o = Tables.orders(spark, sfDir)
        val base = java.nio.file.Files.createTempDirectory("bench_probe").toString
        val rawWrite = probeOnce(o.write.parquet(base + "/w"))
        graft.functions.RollingFingerprint.register(spark)
        val d = Tables.documents(spark, sfDir)
        // max, not sum: forces the per-row fingerprint all the same, and
        // cannot overflow Long on a 10× corpus (fingerprints reach ~1e15)
        val fpCodegen = probeOnce(d.select(
          graft.functions.RollingFingerprint.rollingFingerprint(col("text")).as("fp"))
          .agg(fmax("fp")).collect())
        val fpHof = probeOnce(d.select(expr(
          """aggregate(transform(split(text, ''), ch -> ascii(ch)),
                       0L, (h, c) -> (h * 31 + c) % 1000000000000000)""").as("fp"))
          .agg(fmax("fp")).collect())
        Seq("raw_write" -> rawWrite, "fp_codegen" -> fpCodegen, "fp_hof" -> fpHof)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] probes failed: ${e.getMessage}"); Seq.empty
      }

    def r3(v: Double): String = f"$v%.3f"
    def qmap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val can = canary.map { case (n, s) => s""","canary":{"query":"$n","sec":${r3(s)}}""" }.getOrElse("")
    val probeJson = if (probes.isEmpty) "" else s""","probes":${qmap(probes)}"""
    // outlier dispositions: EVERY retime records in the file-mirrored
    // full artifact (an uncapped audit trail); only the driver's
    // size-constrained tail line caps them, so a pathological run cannot
    // blow the 2000-char tail window
    def retimedJsonOf(rs: Seq[(String, Double, Double)]): String =
      if (rs.isEmpty) ""
      else s""","retimed":${rs.map { case (n, raw, re) =>
        "\"" + n + "\":{\"raw\":" + r3(raw) + ",\"sec\":" + r3(re) + "}"
      }.mkString("{", ",", "}")}"""
    // pre-retime sum alongside the min-folded headline, so both metric
    // semantics (raw single-pass vs min-of-runs) stay readable
    val rawTotal = if (results0.nonEmpty) results0.map(_._2).sum else 0.0
    val rawJson = if (retimed.isEmpty) "" else s""","value_raw":${r3(rawTotal)}"""
    val head = results.filter { case (k, _) => headline.contains(k) }
    val fullLine =
      s"""{"metric":"total_full","value":${r3(total)}$rawJson,"unit":"sec","n_queries":${results.size},"queries":${qmap(results)}$can$probeJson${retimedJsonOf(retimed)},"sf":"$sfDir"}"""
    // the ONE parseable line, printed LAST: headline subset keeps it inside
    // the driver's 2000-char tail window
    val line =
      s"""{"metric":"total","value":${r3(total)}$rawJson,"unit":"sec","n_queries":${results.size},"queries":${qmap(head)},"errors":$errs$can$probeJson${retimedJsonOf(retimed.take(6))},"sf":"$sfDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), fullLine + "\n" + line + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file mirror: ${e.getMessage}") }
    println(fullLine)
    println(line)
    if (line.length > 1800)
      System.err.println(s"[bench] WARNING final line ${line.length} chars may exceed tail window")
    spark.stop()
  }
}
