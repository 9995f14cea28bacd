package graft

import org.apache.spark.sql.functions._

/** Differential checks for the training-mix preparation operators
  * (X94–X96: mixing schedule, shard manifest, curriculum order, packing,
  * dataset card, embedding drift): re-derive each operator's core quantity
  * with an independent formulation and assert agreement, mirroring
  * TextQualityOpsSpec / CurationRecallOpsSpec / IncrementalLeakageOpsSpec.
  */
class TrainingMixOpsSpec extends SparkSpec {

  test("mixing_schedule: weights equal mixture_weights'; the drawn mass exhausts the 2-epoch budget up to per-source floors") {
    val sched = Registry.queries("mixing_schedule")(spark, sf).localCheckpoint()
    val mix = Registry.queries("mixture_weights")(spark, sf)

    // the isqrt weight kernel must agree with the standalone operator's
    val wMismatch = sched.select(col("source"), col("weight_scaled").as("w1"))
      .join(mix.select(col("source"), col("weight_scaled").as("w2")), Seq("source"))
      .filter(col("w1") =!= col("w2")).count()
    assert(wMismatch == 0, "weight kernel disagrees with mixture_weights")

    // Σ chars_drawn ∈ (B - nSources·1, B]: each source floors away < 1 unit
    val row = sched.agg(sum("chars_drawn"), sum("n_chars"), count(lit(1))).head
    val (drawn, chars, nSrc) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val budget = 2L * chars
    assert(drawn <= budget && drawn > budget - nSrc,
      s"drawn mass $drawn outside ($budget - $nSrc, $budget]")

    // upsampled ⟺ epochs_x100 > 200, and small sources (below mean mass)
    // can only be up-weighted relative to large ones under α = 1/2
    val badFlag = sched.filter(
      (col("upsampled") === 1L) =!= (col("epochs_x100") > 200L)).count()
    assert(badFlag == 0)

    // driver-side BigInt recompute of the 128-bit-widened draw — exact,
    // independent of the DECIMAL(38,0) path the operator uses
    val rows = sched.select("n_chars", "weight_scaled", "chars_drawn", "epochs_x100").collect()
    val wtot = rows.map(_.getLong(1)).sum
    rows.foreach { r =>
      val expect = (BigInt(2L * chars) * r.getLong(1) / wtot).toLong
      assert(r.getLong(2) == expect, s"chars_drawn ${r.getLong(2)} != BigInt recompute $expect")
      assert(r.getLong(3) == r.getLong(2) * 100L / r.getLong(0))
    }
  }

  test("shard_manifest: partitions the corpus; the checksum is order-independent across reshards") {
    val d = Tables.documents(spark, sf)
    val out = Registry.queries("shard_manifest")(spark, sf).localCheckpoint()

    // the 16 shards partition the corpus exactly
    assert(out.agg(sum("n_docs")).head.getLong(0) == d.count())
    assert(out.count() <= 16)

    // reshard invariance: a different physical layout must produce a
    // byte-identical manifest (the commutative-checksum claim)
    val a = operators.PipelineOps.shardManifestOp(d.repartition(3)).collect()
    val b = operators.PipelineOps.shardManifestOp(d.repartition(17)).collect()
    assert(a.sameElements(b), "manifest differs across physical layouts")

    // checksum actually depends on content: perturb one doc's text and the
    // touched shard's checksum must move, all others stay
    val perturbed = d.withColumn("text",
      when(col("doc_id") === d.agg(min("doc_id")).head.get(0), concat(col("text"), lit(" zz")))
        .otherwise(col("text")))
    val c = operators.PipelineOps.shardManifestOp(perturbed)
      .select("shard", "checksum60").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val orig = out.select("shard", "checksum60").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val changed = orig.keys.count(k => c(k) != orig(k))
    assert(changed == 1, s"expected exactly one shard checksum to move, got $changed")
  }

  test("curriculum_order: equals the single-window formulation and is partition-count-invariant") {
    val out = Registry.queries("curriculum_order")(spark, sf).localCheckpoint()
    val d = Tables.documents(spark, sf)

    // ordinals are a permutation of 1..N
    val n = d.count()
    assert(out.count() == n)
    val row = out.agg(min("ordinal"), max("ordinal"), countDistinct("ordinal")).head
    assert(row.getLong(0) == 1L && row.getLong(1) == n && row.getLong(2) == n)

    // the distributed two-pass ordinal equals the single-window row_number
    // (fine at test scale; the operator exists so 100 TB never runs this)
    val win = org.apache.spark.sql.expressions.Window
      .orderBy(col("p_scaled").desc, col("doc_id").asc)
    val ref = out.select("doc_id", "p_scaled")
      .withColumn("ord2", row_number().over(win).cast("long"))
    val mismatch = out.join(ref.select("doc_id", "ord2"), Seq("doc_id"))
      .filter(col("ordinal") =!= col("ord2")).count()
    assert(mismatch == 0, "two-pass ordinal disagrees with the window formulation")

    // partition-count invariance (range boundaries are sampled; the result
    // must not depend on how many ranges the sampler chose)
    val p3 = operators.PipelineOps.curriculumOrderOp(d, 3).collect()
    val p8 = operators.PipelineOps.curriculumOrderOp(d, 8).collect()
    assert(p3.sameElements(p8), "ordinal assignment depends on the partition count")

    // deciles are monotone in the ordinal and near-balanced
    val badDecile = out.filter(
      col("decile") =!= expr(s"((ordinal - 1) * 10) div ${n}L")).count()
    assert(badDecile == 0)
  }

  test("dedup_recall_report: minhash row reconciles with minhash_dedup's probe-set pairs; simhash extras are non-truth pairs") {
    val rep = Registry.queries("dedup_recall_report")(spark, sf).collect()
      .map(r => r.getString(r.fieldIndex("method")) -> r).toMap
    val mh = rep("minhash"); val sh = rep("simhash")

    // minhash verifies exact Jaccard ≥ 0.5 after banding — the same
    // measure as truth — so every found pair IS a truth pair
    assert(mh.getLong(mh.fieldIndex("extras")) == 0L,
      "minhash produced a pair the exact-Jaccard truth rejects")
    assert(mh.getLong(mh.fieldIndex("precision_ppm")) == 1000000L ||
      mh.getLong(mh.fieldIndex("found_pairs")) == 0L)

    // found_pairs(minhash) equals the production minhash_dedup restricted
    // to the probe set — the report audits the operator it ships beside
    val probePairs = Registry.queries("minhash_dedup")(spark, sf)
      .filter(col("id1") < 300 && col("id2") < 300).count()
    assert(mh.getLong(mh.fieldIndex("found_pairs")) == probePairs,
      s"report found ${mh.getLong(mh.fieldIndex("found_pairs"))} != minhash_dedup probe pairs $probePairs")

    // counting identities per method
    Seq(mh, sh).foreach { r =>
      def g(c: String) = r.getLong(r.fieldIndex(c))
      assert(g("hits") + g("misses") == g("truth_pairs"))
      assert(g("hits") + g("extras") == g("found_pairs"))
      assert(g("hits") <= g("truth_pairs") && g("hits") <= g("found_pairs"))
    }
  }

  test("packing_efficiency: reconciles with sequence_pack's bins; overfull bins are exactly the budget-exceeding ones") {
    val eff = Registry.queries("packing_efficiency")(spark, sf).localCheckpoint()
    val bins = Registry.queries("sequence_pack")(spark, sf).localCheckpoint()

    // per-source rollup of the pack's own output must match the operator
    val ref = bins.groupBy("source")
      .agg(count(lit(1)).as("nb"), sum("seq_tokens").as("tt"),
        sum((col("seq_tokens") > 512L).cast("long")).as("no"),
        max("seq_tokens").as("mx"))
    val bad = eff.join(ref, Seq("source"))
      .filter(col("n_bins") =!= col("nb") || col("total_tokens") =!= col("tt") ||
        col("n_overfull") =!= col("no") || col("max_bin_tokens") =!= col("mx"))
      .count()
    assert(bad == 0, "efficiency report disagrees with a direct rollup of sequence_pack")

    // a bin exceeds the budget only by a single over-long document's
    // overflow ⇒ fill > 1000‰ for a source implies it has overfull bins
    val badFill = eff.filter(col("fill_permille") > 1000L && col("n_overfull") === 0L).count()
    assert(badFill == 0)
    // capacity identity
    assert(eff.filter(col("capacity") =!= col("n_bins") * 512L).count() == 0)
  }

  test("dataset_card: rates reconcile with independent dup/contamination/quality recounts") {
    val card = Registry.queries("dataset_card")(spark, sf).localCheckpoint()
    val d = Tables.documents(spark, sf)

    // sizes partition the corpus
    assert(card.agg(sum("n_docs")).head.getLong(0) == d.count())

    // global dup count: N − |distinct texts| must equal Σ n_docs·dup rate
    // recomputed the card's way — rebuild is_dup via a groupBy-min join
    // (no window) and compare per-source permilles exactly
    val keepers = d.groupBy("text").agg(min("doc_id").as("keep_id"))
    val dupFlag = d.join(keepers, Seq("text"))
      .select(col("source"), (col("doc_id") =!= col("keep_id")).cast("long").as("is_dup"))
      .groupBy("source")
      .agg(expr("(sum(is_dup) * 1000) div count(1)").as("dp2"))
    assert(card.join(dupFlag, Seq("source"))
      .filter(col("dup_permille") =!= col("dp2")).count() == 0,
      "dup_permille disagrees with the groupBy-min recount")

    // contamination: the card's flagged docs are exactly decontaminate_ngrams'
    val contamBySrc = Registry.queries("decontaminate_ngrams")(spark, sf)
      .join(d.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("source").agg(count(lit(1)).as("nc"))
    val cp2 = d.groupBy("source").agg(count(lit(1)).as("n"))
      .join(contamBySrc, Seq("source"), "left")
      .select(col("source"),
        expr("(coalesce(nc, 0L) * 1000) div n").as("cp2"))
    assert(card.join(cp2, Seq("source"))
      .filter(col("contaminated_permille") =!= col("cp2")).count() == 0,
      "contaminated_permille disagrees with decontaminate_ngrams")

    // rates are permilles
    val badRange = card.filter(
      col("quality_pass_permille") < 0 || col("quality_pass_permille") > 1000 ||
      col("dup_permille") < 0 || col("dup_permille") > 1000 ||
      col("contaminated_permille") < 0 || col("contaminated_permille") > 1000 ||
      col("mean_score") < 0 || col("mean_score") > 1000).count()
    assert(badRange == 0)
  }

  test("embedding_drift: equals two parity-filtered embed_centroid runs; half-swap symmetric") {
    val drift = Registry.queries("embedding_drift")(spark, sf).localCheckpoint()
    val e = Tables.embeddings(spark, sf)

    // independent recount: run the embed_centroid construction per parity
    // half and fold the joined dims to the same L1/max
    def centroids(parity: Int) = e.filter(col("vec_id") % 2 === parity)
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        round(col("x").cast("double") * 1000000d).cast("long").as("v"))
      .groupBy("label", "dim")
      .agg(floor(sum("v").cast("double") / count(lit(1)).cast("double")).cast("long").as("c"))
    val ref = centroids(0).withColumnRenamed("c", "ca")
      .join(centroids(1).withColumnRenamed("c", "cb"), Seq("label", "dim"))
      .groupBy("label")
      .agg(sum(abs(col("ca") - col("cb"))).as("l1b"),
        max(abs(col("ca") - col("cb"))).as("mxb"))
    val mismatch = drift.join(ref, Seq("label"))
      .filter(col("l1_shift_scaled") =!= col("l1b") ||
        col("max_dim_shift_scaled") =!= col("mxb")).count()
    assert(mismatch == 0, "drift disagrees with the per-parity centroid recount")

    // dims column = the embedding width everywhere
    val width = e.select(size(col("embedding"))).head.getInt(0).toLong
    assert(drift.filter(col("dims") =!= width).count() == 0)
  }
}
