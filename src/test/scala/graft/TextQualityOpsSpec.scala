package graft

import org.apache.spark.sql.functions._

/** Differential checks for the text-quality and decontamination
  * operators (Gopher quality rules, rare bigrams, edit-distance pairs, URL
  * canonical dedup, cross-source overlap, decontamination agreement): each
  * re-derives the operator's core quantity with an independent formulation
  * (explode + groupBy where the engine uses a narrow kernel, 2-arg full
  * levenshtein where the engine uses the banded threshold form) and
  * asserts agreement on the fixture corpus — the engine-side twin of the
  * DuckDB oracle.
  */
class TextQualityOpsSpec extends SparkSpec {

  test("gopher_quality_rules repetition flag agrees with an exploded recount") {
    val out = Registry.queries("gopher_quality_rules")(spark, sf)
      .select("doc_id", "nw", "r_repetition")
    val recount = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max(col("c")).as("max_tok"))
    val joined = out.join(recount, Seq("doc_id"), "left")
      .select(col("doc_id"), col("r_repetition"),
        (coalesce(col("max_tok"), lit(0L)) * 5 <= col("nw")).as("expected"))
    assert(joined.filter(col("r_repetition") =!= col("expected")).count() == 0)
    assert(joined.count() > 0)
  }

  test("rare_bigram_rate counts are internally consistent and length-anchored") {
    val out = Registry.queries("rare_bigram_rate")(spark, sf)
    assert(out.filter(col("n_rare") > col("n_bigrams") || col("n_rare") < 0).count() == 0)
    val expected = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"),
        greatest(size(expr("filter(split(text, ' '), x -> x <> '')")) - 1, lit(0))
          .cast("long").as("exp_bigrams"))
    val bad = out.join(expected, "doc_id")
      .filter(col("n_bigrams") =!= col("exp_bigrams"))
    assert(bad.count() == 0, "zip-slice bigram count disagrees with size(toks)-1")
  }

  test("edit_distance_pairs distances equal the unbanded levenshtein") {
    val txt = Tables.documents(spark, sf)
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val out = Registry.queries("edit_distance_pairs")(spark, sf)
    val recomputed = out
      .join(txt.as("a"), col("id1") === col("a.doc_id"))
      .join(txt.as("b"), col("id2") === col("b.doc_id"))
      .select(col("id1"), col("id2"), col("dist"), col("max_len"),
        levenshtein(col("a.text"), col("b.text")).cast("long").as("full_dist"))
    assert(recomputed.filter(col("dist") =!= col("full_dist")).count() == 0,
      "banded-threshold levenshtein disagrees with the full DP on accepted pairs")
    assert(recomputed.filter(col("dist") * 4 > col("max_len")).count() == 0)
    assert(recomputed.filter(col("id1") >= col("id2")).count() == 0)
    assert(recomputed.count() > 0)
  }

  test("url_canonical_dedup canonicalization is idempotent") {
    def canon(c: org.apache.spark.sql.Column) =
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(c), "\\?.*$", ""),
          "/$", ""),
        "://www\\.", "://")
    val urls = Tables.documents(spark, sf).withColumn("raw_url",
      concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
        when(col("doc_id") % 3 === 0, lit("WWW.")).otherwise(lit("www.")),
        col("source"), lit(".example.com/p/"),
        expr("doc_id div 40").cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 1, lit("?utm_source=feed")).otherwise(lit(""))))
      .select(canon(col("raw_url")).as("c1"))
      .select(col("c1"), canon(col("c1")).as("c2"))
    assert(urls.filter(col("c1") =!= col("c2")).count() == 0)
  }

  test("cross_source_overlap matrix agrees with a collect_set recount") {
    val out = Registry.queries("cross_source_overlap")(spark, sf)
    val toks = Tables.documents(spark, sf)
      .select(col("source"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
    val grams = toks.select(col("source"),
        explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 4), slice(col("w"), lit(2), size(col("w")) - 4),
          slice(col("w"), lit(3), size(col("w")) - 4), slice(col("w"), lit(4), size(col("w")) - 4),
          slice(col("w"), lit(5), size(col("w")) - 4))).as("p"))
      .select(col("source"), concat_ws(" ",
        col("p").getField("0"), col("p").getField("1"), col("p").getField("2"),
        col("p").getField("3"), col("p").getField("4")).as("g"))
    // per gram: sorted distinct source list → all ordered pairs, recounted
    val pairs = grams.groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss"))
      .select(explode(expr(
        """flatten(transform(ss, (a, i) ->
             transform(slice(ss, i + 2, size(ss)), b -> struct(a AS src1, b AS src2))))""")).as("pr"))
      .groupBy(col("pr.src1").as("src1"), col("pr.src2").as("src2"))
      .agg(count(lit(1)).as("expected"))
    val joined = out.join(pairs, Seq("src1", "src2"), "full")
    assert(joined.filter(col("n_shared_grams") =!= col("expected") ||
      col("n_shared_grams").isNull || col("expected").isNull).count() == 0)
    assert(out.count() > 0)
  }

  test("decontaminate_agreement rollups are consistent with the channel queries") {
    val agg = Registry.queries("decontaminate_agreement")(spark, sf)
    // n_any within [max(channel), sum(channels)]; n_multi <= n_any; counts bounded by n_docs
    val bad = agg.filter(
      col("n_any") < greatest(col("n_ngram"), col("n_minhash"), col("n_embed")) ||
      col("n_any") > col("n_ngram") + col("n_minhash") + col("n_embed") ||
      col("n_multi") > col("n_any") || col("n_any") > col("n_docs"))
    assert(bad.count() == 0)
    // per-channel totals match the standalone channel queries
    val ngTotal = Registry.queries("decontaminate_ngrams")(spark, sf).count()
    assert(agg.agg(sum("n_ngram")).head.getLong(0) == ngTotal)
    val mhTotal = Registry.queries("minhash_decontaminate")(spark, sf)
      .agg(sum("n_flagged_docs")).head.getLong(0)
    assert(agg.agg(sum("n_minhash")).head.getLong(0) == mhTotal)
    // the embed channel's eval split (label=0) is independent of the text
    // split (source=src0), so restrict flagged vecs to the agreement's
    // train roster before comparing
    val emTotal = Registry.queries("embed_decontaminate")(spark, sf)
      .filter(col("contaminated") === 1L)
      .join(Tables.documents(spark, sf).filter(col("source") =!= "src0")
        .select(col("doc_id").cast("long").as("doc_id")),
        col("vec_id") === col("doc_id"))
      .count()
    assert(agg.agg(sum("n_embed")).head.getLong(0) == emTotal)
  }
}
