package graft.icelite

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Mid-commit death: the untested half of the ACID promise (the racing-
  * writer half lives in ConcurrencyStressSpec). A writer is killed at a
  * randomized point of the commit sequence — before the version file,
  * between the version file and the hint swap, or after the swap — across
  * randomized schedules (full ≥100-schedule soak under
  * SPARK_GRAFT_LOAD_TESTS=1; see graft.LoadTests), and after every crash
  * three invariants must hold:
  *
  *   1. a fresh reader NEVER observes a torn table: the hint resolves, its
  *      metadata parses, every referenced data file exists, and the row
  *      multiset is exactly the committed appends (a torn commit — version
  *      file without hint swap — contributes NOTHING);
  *   2. the table recovers WITHOUT manual repair: the next writer first
  *      collides with the dead writer's version file (a young orphan is
  *      never stepped over — it could be a live racer), then steps past it
  *      once it ages out of quarantine, and commits;
  *   3. `removeOrphanFiles` reclaims every data file the dead writer
  *      leaked, and reclaims NOTHING referenced by live history.
  *
  * The kill is injected through [[CommitStore]] — the same seam an
  * object-store implementation swaps in — as a non-IOException throw
  * (commitWithRetry treats IOException as a version-claim collision and
  * retries; a crash must propagate like a process death).
  */
class CrashRecoverySpec extends SparkSpec {
  import spark.implicits._

  private final class SimulatedCrash extends RuntimeException("simulated crash")

  /** Kill points, named by position in the commit sequence. */
  private object Kill extends Enumeration {
    val BeforeVersionFile,  // data staged, v(N+1).json never created
        AfterVersionFile,   // v(N+1).json created, hint never swapped
        AfterHintSwap       // commit fully landed, death after
      = Value
  }

  /** Store decorator that dies at `at`, after faithfully applying every
    * effect BEFORE the kill point (a real crash loses nothing it already
    * fsync'd). */
  private final class CrashingStore(inner: CommitStore, at: Kill.Value)
      extends CommitStore {
    override def readString(p: Path): String = inner.readString(p)
    override def exists(p: Path): Boolean = inner.exists(p)
    override def modificationTime(p: Path): Long = inner.modificationTime(p)
    override def delete(p: Path): Unit = inner.delete(p)
    override def createExclusive(p: Path, content: String): Unit = {
      if (at == Kill.BeforeVersionFile) throw new SimulatedCrash
      inner.createExclusive(p, content)
      if (at == Kill.AfterVersionFile) throw new SimulatedCrash
    }
    override def replace(p: Path, content: String): Unit = {
      inner.replace(p, content)
      if (at == Kill.AfterHintSwap) throw new SimulatedCrash
    }
  }

  test("randomized mid-commit kills: readers never torn, recovery automatic, orphans reclaimed") {
    val rounds = graft.LoadTests.n(100, 15)
    val loc = Files.createTempDirectory("crashrec").toString + "/t"
    val quarantineMs = 250L
    IceLite.createFrom(spark, loc, spark.range(0, 10).toDF("id"),
      properties = Map("commit.orphan-quarantine-ms" -> quarantineMs.toString))
    new IceLiteTable(spark, loc).append(spark.range(0, 10).toDF("id"))

    val rng = new scala.util.Random(42)
    var expected = (0L until 10L).toSet
    var nextKey = 1000L
    var tornCommits = 0

    for (i <- 1 to rounds) {
      val at = Kill.values.toSeq(rng.nextInt(Kill.values.size))
      val keys = (nextKey until nextKey + 3).toSet
      nextKey += 3
      val inner = new HadoopCommitStore(IceLite.fs(spark, loc))
      val crashing = new IceLiteTable(spark, loc, Some(new CrashingStore(inner, at)))
      intercept[SimulatedCrash] {
        crashing.append(keys.toSeq.toDF("id"))
      }
      if (at == Kill.AfterHintSwap) expected ++= keys // landed before death
      if (at == Kill.AfterVersionFile) tornCommits += 1

      // invariant 1: a fresh reader sees a consistent, fully-backed table
      val reader = new IceLiteTable(spark, loc)
      val snap = reader.meta.currentSnapshot.get
      val f = IceLite.fs(spark, loc)
      snap.dataFiles.foreach(d =>
        assert(f.exists(new Path(d.path)), s"referenced file missing: ${d.path} (kill=$at)"))
      assert(reader.read().select("id").as[Long].collect().toSet == expected,
        s"iteration $i (kill=$at): torn read")

      // invariant 2: the next writer recovers unaided — every 5th round
      // (and every torn round) to keep the fuzz under a minute
      if (at == Kill.AfterVersionFile || i % 5 == 0) {
        if (at == Kill.AfterVersionFile) Thread.sleep(quarantineMs + 50)
        val keys2 = (nextKey until nextKey + 2).toSet
        nextKey += 2
        new IceLiteTable(spark, loc).append(keys2.toSeq.toDF("id"))
        expected ++= keys2
        assert(new IceLiteTable(spark, loc).read().count() == expected.size,
          s"iteration $i: recovery append lost rows")
      }
    }
    assert(tornCommits >= graft.LoadTests.n(20, 2), s"schedule mix too thin: only $tornCommits torn commits")

    // invariant 3: reclaim — every leaked file goes, nothing live goes
    val t = new IceLiteTable(spark, loc)
    val removed = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1)
    assert(removed.nonEmpty, s"$rounds kills must have leaked at least one data file")
    val live = t.meta.snapshots
      .flatMap(s => s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    removed.foreach(r => assert(!live.contains(r), s"reclaimed a LIVE file: $r"))
    val f = IceLite.fs(spark, loc)
    val it = f.listFiles(new Path(loc, "data"), true)
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile)
        assert(live.contains(st.getPath.toString),
          s"unreferenced file survived reclaim: ${st.getPath}")
    }
    assert(t.read().select("id").as[Long].collect().toSet == expected,
      "reclaim changed the table contents")
  }

  test("randomized kills mid delete-file rewrite: reads stay exact, recovery merges, leaks reclaimed") {
    val rounds = graft.LoadTests.n(30, 6)
    val loc = Files.createTempDirectory("crashrw").toString + "/t"
    val quarantineMs = 250L
    IceLite.createFrom(spark, loc, spark.range(0, 2000).toDF("id"),
      properties = Map(
        "write.delete.mode" -> "merge-on-read",
        "commit.orphan-quarantine-ms" -> quarantineMs.toString))
    new IceLiteTable(spark, loc).append(spark.range(0, 2000).toDF("id"))

    def posFiles(): Int = new IceLiteTable(spark, loc)
      .meta.currentSnapshot.get.deleteFiles.count(_.kind == "pos")

    val rng = new scala.util.Random(7)
    var expected = (0L until 2000L).toSet
    var nextVictim = 0L
    var tornCommits = 0
    for (i <- 1 to rounds) {
      // keep >=2 position delete files on the table so the rewrite has
      // real work (a landed rewrite from a prior round merged them to 1)
      while (posFiles() <= 1) {
        new IceLiteTable(spark, loc).delete(col("id") === nextVictim)
        expected -= nextVictim
        nextVictim += 1
      }
      val at = Kill.values.toSeq(rng.nextInt(Kill.values.size))
      val inner = new HadoopCommitStore(IceLite.fs(spark, loc))
      val crashing = new IceLiteTable(spark, loc, Some(new CrashingStore(inner, at)))
      intercept[SimulatedCrash] { crashing.rewritePositionDeletes() }
      if (at == Kill.AfterVersionFile) { tornCommits += 1; Thread.sleep(quarantineMs + 50) }

      // the rewrite is content-neutral, so the read is exact REGARDLESS of
      // where the writer died, and every referenced delete file exists
      val reader = new IceLiteTable(spark, loc)
      val f = IceLite.fs(spark, loc)
      reader.meta.currentSnapshot.get.deleteFiles.foreach(d =>
        assert(f.exists(new Path(d.path)), s"referenced delete file missing: ${d.path} (kill=$at)"))
      assert(reader.read().select("id").as[Long].collect().toSet == expected,
        s"iteration $i (kill=$at): content drifted")
      if (at == Kill.AfterHintSwap)
        assert(posFiles() == 1, s"iteration $i: landed rewrite did not merge")

      // unaided recovery: a plain rewrite (or no-op, if the killed one
      // landed) must go through and leave exactly one merged file
      if (i % 5 == 0) {
        new IceLiteTable(spark, loc).rewritePositionDeletes()
        assert(posFiles() == 1, s"iteration $i: recovery rewrite did not merge")
        assert(new IceLiteTable(spark, loc).read().select("id").as[Long].collect().toSet == expected,
          s"iteration $i: recovery rewrite changed content")
      }
    }
    assert(tornCommits >= graft.LoadTests.n(5, 1), s"schedule mix too thin: only $tornCommits torn commits")

    // reclaim: every merged-delete parquet a dead writer leaked goes;
    // nothing referenced by live history goes
    val t = new IceLiteTable(spark, loc)
    val removed = t.removeOrphanFiles(olderThanMs = System.currentTimeMillis() + 1)
    assert(removed.nonEmpty, s"$rounds kills must have leaked at least one merged delete file")
    val live = t.meta.snapshots
      .flatMap(s => s.dataFiles.map(_.path) ++ s.deleteFiles.map(_.path)).toSet
    removed.foreach(r => assert(!live.contains(r), s"reclaimed a LIVE file: $r"))
    assert(t.read().select("id").as[Long].collect().toSet == expected,
      "reclaim changed the table contents")
  }
}
