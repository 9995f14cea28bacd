package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic 10× scale-up of the ENTIRE testdata directory, cached under
  * /tmp — the full-registry sf1 validation substrate (round-10 judge item: run
  * the complete oracle comparison and bench at 10× data, not just the heavy
  * spot set).
  *
  * Scaling scheme (matches the spot-bench generator it replaces, extended to
  * every table):
  *   - dimension tables (`region nation customer supplier part`) are copied
  *     verbatim: scaling facts 10× against fixed dims is the realistic
  *     big-data shape (fact growth dwarfs dim growth) and keeps every
  *     FK column (`o_custkey`, `l_partkey`, `l_suppkey`) valid without
  *     a remap;
  *   - fact primary keys interleave (`id*10+i` for copy i) so
  *     (a) uniqueness holds across copies, (b) bounded probe sets
  *     (`vec_id < N`, `doc_id < N`) keep covering every copy, and
  *     (c) the orders↔lineitem join stays aligned (both sides interleave
  *     `*_orderkey` identically — copy i joins copy i);
  *   - copy>0 document tokens get a `c{i}_` prefix: near-dup structure is
  *     preserved WITHIN each copy but never across copies, so dedup work
  *     scales ~10×, not quadratically in identical clones;
  *   - copy>0 embeddings get a deterministic element roll by i positions so
  *     ANN/k-means see 10× distinct vectors, not 10 identical shells;
  *   - events interleave `event_id`; `user_id`/`ts` stay as-is, so
  *     sessionize/funnel/retention see 10× events per user per day — row
  *     growth, not key growth, which is the behavior-analytics stress shape.
  *
  * Timestamps are written as TIMESTAMP_MICROS explicitly so the scaled dir
  * preserves the current testdata vintage (`timestamp[us]`) and the
  * schema-adaptive readers + DuckDB oracle see the same physical types as
  * the driver-generated parquet.
  *
  * Run standalone: `runMain graft.tools.ScaleUp [baseDir] [outDir] [factor]`
  * (factor defaults to 10; a 30× dir gives a third scale point so per-query
  * scaling exponents can be fit, separating fixed cost from slope).
  */
object ScaleUp {
  val DefaultOut = "/tmp/graft_sf1"

  /** Marker version: bump when the generation scheme or table set changes —
    * a stale cache from an older build must not short-circuit. v4 = full
    * table set (v3 generated only the 4 spot-bench tables). */
  private val Marker = "_READY_v4"

  def ensure(spark: SparkSession, base: String, out: String = DefaultOut,
      factor: Int = 10): String = {
    import org.apache.spark.sql.functions._
    val ready = new java.io.File(s"$out/$Marker")
    if (ready.exists) return out
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

    def write(df: DataFrame, table: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$table.parquet")
    def interleave(df: DataFrame, keys: String*) : DataFrame =
      (0 until factor).map { i =>
        keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) * factor + i))
      }.reduce(_ unionAll _)

    // dims verbatim
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$base/$t.parquet"), t)
    }

    val docs = spark.read.parquet(s"$base/documents.parquet")
    write((0 until factor).map { i =>
      val d = docs.withColumn("doc_id", col("doc_id") * factor + i)
      if (i == 0) d
      else d.withColumn("text", array_join(
        transform(split(col("text"), " "), t => concat(lit(s"c${i}_"), t)), " "))
    }.reduce(_ unionAll _), "documents")

    write(interleave(spark.read.parquet(s"$base/orders.parquet"), "o_orderkey"),
      "orders")
    // (l_orderkey, l_linenumber) stays unique across copies; value columns
    // untouched, so per-group quantile work scales ×factor in rows, not groups
    write(interleave(spark.read.parquet(s"$base/lineitem.parquet"), "l_orderkey"),
      "lineitem")
    write(interleave(spark.read.parquet(s"$base/events.parquet"), "event_id"),
      "events")

    // element roll wraps at the 64-dim embedding width for factors > 64
    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    write((0 until factor).map { i =>
      val e = emb.withColumn("vec_id", col("vec_id") * factor + i)
      val roll = i % 64
      if (roll == 0) e
      else e.withColumn("embedding",
        concat(slice(col("embedding"), roll + 1, 64 - roll),
          slice(col("embedding"), 1, roll)))
    }.reduce(_ unionAll _), "embeddings")

    ready.createNewFile()
    out
  }

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse(DefaultOut)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Engine.session()
    println(s"[scaleup] wrote ${ensure(spark, base, out, factor)}")
    spark.stop()
  }
}
