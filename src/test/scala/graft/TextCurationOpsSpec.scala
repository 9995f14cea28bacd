package graft

import org.apache.spark.sql.functions._

/** Differential checks for the text-curation operators — paragraph
  * dedup, dedup cluster stats and tokenizer fertility: re-derive each
  * operator's core quantity with an independent formulation and assert
  * agreement, mirroring TextQualityOpsSpec / CurationRecallOpsSpec / IncrementalLeakageOpsSpec.
  */
class TextCurationOpsSpec extends SparkSpec {

  /** The operator's paragraph stream, rebuilt independently (same
    * construction, no dedup logic). */
  private def paraStream = {
    val d = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"),
        expr("filter(split(text, ' '), x -> x <> '')").as("toks"))
      .withColumn("nt", size(col("toks")).cast("long"))
      .filter(col("nt") > 0L)
      .withColumn("n_paras", expr("(nt + 19) div 20"))
    d.withColumn("pidx", explode(expr("sequence(0L, n_paras - 1)")))
      .select(col("doc_id"), col("pidx"),
        concat_ws(" ", expr("slice(toks, cast(pidx * 20 + 1 AS INT), 20)")).as("para"))
  }

  test("paragraph_dedup: keep-first equals the min-struct formulation; kept total is the distinct-paragraph universe") {
    val out = Registry.queries("paragraph_dedup")(spark, sf).localCheckpoint()
    val paras = paraStream.localCheckpoint()

    // paragraph counts reconcile
    val nParas = paras.count()
    assert(out.agg(sum("n_paras")).head.getLong(0) == nParas)

    // each distinct paragraph survives in exactly one doc ⇒ Σ kept = |distinct paras|
    val distinctParas = paras.select("para").distinct().count()
    val keptTotal = out.agg(sum(col("n_paras") - col("n_removed"))).head.getLong(0)
    assert(keptTotal == distinctParas,
      s"kept paragraphs ($keptTotal) != distinct paragraph universe ($distinctParas)")

    // independent keep-first: min(struct(doc_id, pidx)) per paragraph — a
    // different plan shape (group-agg, no window) must assign every
    // paragraph's surviving copy to the same doc the operator kept it in
    val keptPerDoc = paras.groupBy("para")
      .agg(min(struct(col("doc_id"), col("pidx"))).as("m"))
      .groupBy(col("m.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("k2"))
    val mismatch = out
      .select(col("doc_id"), (col("n_paras") - col("n_removed")).as("k1"))
      .join(keptPerDoc, Seq("doc_id"), "left")
      .filter(coalesce(col("k2"), lit(0L)) =!= col("k1"))
      .count()
    assert(mismatch == 0, "per-doc kept count disagrees with the min-struct formulation")

    // untouched docs rebuild to their original text (md5 of the token join)
    val orig = Tables.documents(spark, sf).select(col("doc_id").cast("long").as("doc_id"),
      md5(array_join(expr("filter(split(text, ' '), x -> x <> '')"), " ")).as("orig_md5"))
    val badRebuild = out.filter(col("n_removed") === 0L)
      .join(orig, Seq("doc_id"))
      .filter(col("kept_md5") =!= col("orig_md5")).count()
    assert(badRebuild == 0, "an untouched doc's rebuild hash differs from its original text")
  }

  test("dedup_cluster_stats: histogram partitions the probe set and reconciles with dedup_resolve") {
    val out = Registry.queries("dedup_cluster_stats")(spark, sf).localCheckpoint()
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    // internal consistency: every row's doc total is size × clusters
    for ((size, nc, nd) <- rows)
      assert(size * nc == nd, s"row (size=$size): $nc clusters but $nd docs")

    // the histogram partitions the probe set
    val probe = Tables.documents(spark, sf).filter(col("doc_id") < 300).count()
    assert(rows.map(_._3).sum == probe,
      s"histogram covers ${rows.map(_._3).sum} docs, probe set has $probe")

    // size ≥ 2 clusters are exactly dedup_resolve's clusters (all of which
    // have ≥ 2 members: every closure node carries at least one edge)
    val resolve = Registry.queries("dedup_resolve")(spark, sf).localCheckpoint()
    assert(resolve.filter(col("n_members") < 2).count() == 0)
    val multiClusters = rows.filter(_._1 >= 2).map(_._2).sum
    assert(multiClusters == resolve.count(),
      s"size≥2 clusters ($multiClusters) != dedup_resolve rows (${resolve.count()})")

    // singletons are the probe docs that appear in no near-dup pair
    val pairs = Registry.queries("jaccard_pairs")(spark, sf)
    val inPairs = pairs.select(col("id1").as("d")).unionAll(pairs.select(col("id2").as("d")))
      .distinct().count()
    val singletons = rows.filter(_._1 == 1L).map(_._2).sum
    assert(singletons == probe - inPairs,
      s"size-1 clusters ($singletons) != probe minus edge-bearing docs (${probe - inPairs})")
  }

  test("tokenizer_fertility: per-source totals reconcile with bpe_encode and a direct word count") {
    val out = Registry.queries("tokenizer_fertility")(spark, sf).localCheckpoint()
    val enc = Registry.queries("bpe_encode")(spark, sf).localCheckpoint()

    // same corpus, two partitionings: per-source and per-lang totals agree
    assert(out.agg(sum("n_words")).head.getLong(0) == enc.agg(sum("n_words")).head.getLong(0))
    assert(out.agg(sum("n_bpe_tokens")).head.getLong(0) ==
      enc.agg(sum("n_bpe_tokens")).head.getLong(0))

    // a tokenizer never emits < 1 subword per word; rates live in range
    assert(out.filter(col("fertility_x100") < 100L).count() == 0)
    assert(out.filter(col("split_rate_x10000") < 0L ||
      col("split_rate_x10000") > 10000L).count() == 0)

    // n_words per source recounted straight off the corpus (no vocab join)
    val direct = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source").agg(count(lit(1)).as("nw"))
    val bad = out.join(direct, Seq("source"))
      .filter(col("n_words") =!= col("nw")).count()
    assert(bad == 0, "per-source word totals disagree with the direct recount")
  }
}
