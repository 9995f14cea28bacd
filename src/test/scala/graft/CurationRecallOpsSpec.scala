package graft

import org.apache.spark.sql.functions._

/** Differential checks for the near-dup and recall-report operators (DCT
  * pHash near-dup, the incremental curation funnel, ANN recall), mirroring
  * the TextQualityOpsSpec pattern: re-derive each operator's core quantity
  * with an independent formulation and assert agreement.
  */
class CurationRecallOpsSpec extends SparkSpec {

  import graft.operators.Multimodal

  private def hash1(payload: Array[Byte]): Long = {
    val s = spark
    import s.implicits._
    Multimodal.dctHash(
      s.createDataset(Seq((1L, payload)))).collect()(0).getLong(1)
  }

  test("dctHash: identical payloads hash identically; a retouch stays near; noise lands far") {
    val rng = new scala.util.Random(7)
    val base = Array.fill[Byte](256)((rng.nextInt(256) - 128).toByte)
    val retouch = base.clone()
    retouch(40) = (retouch(40) ^ 0x01).toByte // sub-block brightness nudge
    val noise = Array.fill[Byte](256)((rng.nextInt(256) - 128).toByte)
    val h0 = hash1(base)
    assert(hash1(base.clone()) == h0, "pHash is not deterministic")
    val hr = java.lang.Long.bitCount(h0 ^ hash1(retouch))
    assert(hr <= 3, s"one-byte retouch moved the hash $hr bits")
    val hn = java.lang.Long.bitCount(h0 ^ hash1(noise))
    assert(hn > 3, s"unrelated payload landed within the near-dup budget ($hn bits)")
  }

  test("multimodal_phash_near_dup equals brute-force all-pairs over the signatures (banding recall)") {
    val s = spark
    import s.implicits._
    val imgs = Tables.documents(s, sf)
      .select(col("doc_id").cast("long"), encode(col("text"), "utf-8"))
      .as[(Long, Array[Byte])]
    val sigs = Multimodal.dctHash(imgs).localCheckpoint()
    // hamming ≤ 3 over 4 bands of 8 bits ⇒ ≥ 1 clean band (pigeonhole),
    // so the banded join must recover EVERY brute-force pair
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("CAST(bit_count(a.sig ^ b.sig) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)
    val banded = Registry.queries("multimodal_phash_near_dup")(s, sf)
    assert(banded.exceptAll(brute).count() == 0, "banded join produced a non-pair")
    assert(brute.exceptAll(banded).count() == 0, "banded join missed a brute-force pair")
  }

  test("curation_incremental funnel counts reconcile with standalone recounts") {
    val s = spark
    val out = Registry.queries("curation_incremental")(s, sf).localCheckpoint()
    // monotone attrition at every stage, per source
    val nonMono = out.filter(
      col("n_quality") > col("n_slice") || col("n_fresh") > col("n_quality") ||
        col("n_dedup") > col("n_fresh") || col("n_clean") > col("n_dedup") ||
        col("n_sampled") > col("n_clean")).count()
    assert(nonMono == 0, "funnel stages are not monotone")
    // slice size recount (the funnel's n_input must equal the raw slice)
    val d = Tables.documents(s, sf)
    val expSlice = d.filter((col("doc_id") % 10 >= 8 || col("doc_id") % 25 === 0) &&
      col("source") =!= "src0").count()
    val gotSlice = out.agg(sum("n_slice")).collect()(0).getLong(0)
    assert(gotSlice == expSlice, s"n_slice $gotSlice != raw slice $expSlice")
    // fresh recount: quality slice docs whose fingerprint is absent from
    // the standing index, via an independent LEFT ANTI formulation
    val fps = d.filter(col("source") =!= "src0")
      .select(col("doc_id"), md5(col("text")).as("fp"),
        expr("""CAST(size(filter(split(text, ' '), x -> x <> '')) AS BIGINT)""").as("nw"),
        expr("""CAST(size(filter(split(text, ' '), x -> x = 'a' OR x = 'the')) AS BIGINT)""").as("stop"),
        expr("""CAST(length(replace(text, ' ', '')) AS BIGINT)""").as("letters"))
      .withColumn("score",
        expr("""500 + 2 * (CASE WHEN nw > 0 THEN (stop * 1000) div nw ELSE 0 END)
                - abs((CASE WHEN nw > 0 THEN (letters * 1000) div nw ELSE 0 END) - 4000) div 4"""))
    val expFresh = fps
      .filter((col("doc_id") % 10 >= 8 || col("doc_id") % 25 === 0) && col("score") >= 400)
      .join(fps.filter(col("doc_id") % 10 < 8).select("fp").distinct(),
        Seq("fp"), "left_anti")
      .count()
    val gotFresh = out.agg(sum("n_fresh")).collect()(0).getLong(0)
    assert(gotFresh == expFresh, s"n_fresh $gotFresh != anti-join recount $expFresh")
    // tokens_kept only counts sampled docs
    val zeroSampled = out.filter(col("n_sampled") === 0 && col("tokens_kept") =!= 0).count()
    assert(zeroSampled == 0, "tokens_kept nonzero with no sampled docs")
  }

  test("ann_recall_report rows reconcile with direct truth-vs-method joins") {
    val s = spark
    import graft.operators.VectorOps
    val rep = Registry.queries("ann_recall_report")(s, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rep.keySet == Set("ivf", "lsh", "pq"), s"methods: ${rep.keySet}")
    rep.foreach { case (m, (nTruth, nHits, recall)) =>
      assert(nHits <= nTruth, s"$m: hits $nHits > truth $nTruth")
      assert(recall == nHits * 10000L / nTruth, s"$m: recall mis-scaled")
    }
    // independent recount for the ivf row: brute truth joined to the IVF
    // result directly (the report computed the same thing through its
    // union-of-methods plan)
    val e = Tables.embeddings(s, sf)
    val truth = VectorOps.bruteTopk(e, col("vec_id") < 10, 3)
      .select("qid", "neighbor_id")
    val ivf = VectorOps.ivfTopk(e, col("vec_id") < 10, k = 3, nprobe = 6,
      codebookK = 16).select("qid", "neighbor_id")
    val hits = truth.join(ivf, Seq("qid", "neighbor_id")).count()
    assert(rep("ivf")._2 == hits,
      s"ivf hits ${rep("ivf")._2} != direct recount $hits")
    assert(rep("ivf")._1 == truth.count(), "ivf truth size drifted")
  }
}
