package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.MergeByKey

class MergeByKeySpec extends SparkSpec {
  import spark.implicits._

  test("merge: incoming wins per column where non-null, rows union by key") {
    val existing = Seq(("A", Some(1.0), Some("x")), ("B", Some(2.0), Some("y")))
      .toDF("k", "v", "s")
    val incoming = Seq(("B", Some(20.0), Option.empty[String]), ("C", Some(3.0), Some("z")))
      .toDF("k", "v", "s")
    val out = MergeByKey.merge(existing, incoming, "k").rowsSet
    assert(out == Set(
      Seq("A", 1.0, "x"),
      Seq("B", 20.0, "y"),   // v overwritten, s kept (incoming null)
      Seq("C", 3.0, "z")))
  }

  test("merge: incoming-only columns appear; overwriteColumns restricts updates") {
    val existing = Seq(("A", 1.0, "keep")).toDF("k", "v", "s")
    val incoming = Seq(("A", 9.0, "new", 42L)).toDF("k", "v", "s", "extra")
    val out = MergeByKey.merge(existing, incoming, "k",
      overwriteColumns = Some(Seq("v", "extra"))).rowsSet
    // s NOT in overwriteColumns -> existing value kept
    assert(out == Set(Seq("A", 9.0, "keep", 42L)))
  }

  test("upsert to versioned store: create then merge, manifest resolves") {
    val dir = Files.createTempDirectory("graft_merge").toString + "/t"
    val first = Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v")
    MergeByKey.upsert(spark, first, dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(0L))
    val second = Seq(("B", 20.0), ("C", 3.0)).toDF("k", "v")
    MergeByKey.upsert(spark, second, dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(1L))
    val out = MergeByKey.readCommitted(spark, dir).rowsSet
    assert(out == Set(Seq("A", 1.0), Seq("B", 20.0), Seq("C", 3.0)))
  }

  test("upsert with outputPartitions bounds the file count") {
    val dir = Files.createTempDirectory("graft_merge_parts").toString + "/t"
    val df = (1L to 1000L).map(i => (i, i * 2.0)).toDF("k", "v")
    MergeByKey.upsert(spark, df, dir, "k", outputPartitions = 2)
    val files = new java.io.File(dir + "/v=0").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files == 2)
    assert(MergeByKey.readCommitted(spark, dir).count() == 1000)
  }

  test("overwrite: truncate-and-load") {
    val dir = Files.createTempDirectory("graft_ovw").toString + "/t"
    MergeByKey.overwrite(Seq(("A", 1)).toDF("k", "v"), dir)
    MergeByKey.overwrite(Seq(("B", 2)).toDF("k", "v"), dir)
    assert(MergeByKey.readCommitted(spark, dir).rowsSet == Set(Seq("B", 2)))
  }

  test("snapshot isolation: a reader's resolved snapshot survives a " +
    "concurrent merge commit (r15 verdict #5)") {
    val dir = Files.createTempDirectory("graft_snap").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // reader resolves the manifest NOW (v=0) and holds the plan lazily
    val snapshot = MergeByKey.readCommitted(spark, dir)
    // two writers commit v=1 and v=2 under the reader; retain=2 keeps
    // v=1, deletes v=0 only at the v=2 commit — so materialize after
    // ONE commit (the documented one-merge-cycle slack), then again
    // to show the snapshot is stable across repeated actions
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    assert(snapshot.rowsSet == Set(Seq("A", 1.0)),
      "reader mid-cycle must still see its resolved version")
    assert(snapshot.rowsSet == Set(Seq("A", 1.0)), "re-read is stable")
    // a FRESH resolution sees the new commit
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
  }

  test("retention: versions older than the previous are GC'd; legacy " +
    "flat stores migrate with one-cycle deferred cleanup") {
    val dir = Files.createTempDirectory("graft_gc").toString + "/t"
    // legacy flat store written without versioning
    Seq(("A", 1.0)).toDF("k", "v").write.parquet(dir)
    // first versioned commit migrates: reads flat data as existing
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
    // legacy root files SURVIVE the migration commit (a reader that
    // resolved the store via the flat-parquet fallback gets the same
    // one-merge-cycle slack as versioned readers) ...
    assert(new java.io.File(dir).listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "legacy files must outlive the migration commit by one cycle")
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    // ... and are gone after the NEXT commit's gc
    assert(!new java.io.File(dir).listFiles()
      .exists(f => f.isFile && f.getName.endsWith(".parquet")),
      "legacy files must be tombstone-GC'd one commit after migration")
    MergeByKey.upsert(spark, Seq(("D", 4.0)).toDF("k", "v"), dir, "k")
    val versions = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).sorted
    assert(versions.toSeq == Seq("v=1", "v=2"),
      "retain=2: committed + previous only")
    assert(MergeByKey.readCommitted(spark, dir).rowsSet == Set(
      Seq("A", 1.0), Seq("B", 2.0), Seq("C", 3.0), Seq("D", 4.0)))
  }

  test("legacy detection is directory-aware: a PARTITIONED pre-versioned " +
    "store (no root .parquet files) merges instead of being dropped") {
    val dir = Files.createTempDirectory("graft_gc_part").toString + "/t"
    Seq(("A", 1.0, "x"), ("B", 2.0, "y")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(dir)
    MergeByKey.upsert(spark, Seq(("C", 3.0, "x")).toDF("k", "v", "p"),
      dir, "k")
    // the nested legacy data is IN the merge, not treated as fresh
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0, "x"), Seq("B", 2.0, "y"), Seq("C", 3.0, "x")))
    // partition dirs survive the migration commit, gone one cycle later
    def partDirs() = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("p=")).toSeq
    assert(partDirs().nonEmpty, "deferred cleanup keeps partition dirs")
    MergeByKey.upsert(spark, Seq(("D", 4.0, "z")).toDF("k", "v", "p"),
      dir, "k")
    assert(partDirs().isEmpty, "tombstoned partition dirs GC'd next cycle")
  }

  test("gc never deletes foreign content it cannot positively identify") {
    val dir = Files.createTempDirectory("graft_gc_foreign").toString + "/t"
    Seq(("A", 1.0)).toDF("k", "v").write.parquet(dir)
    // a foreign file and dir that are NOT parquet writer output
    val notes = new java.io.File(dir, "notes")
    notes.mkdirs()
    Files.writeString(notes.toPath.resolve("readme.txt"), "keep me")
    Files.writeString(new java.io.File(dir, "owner.txt").toPath, "keep")
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("D", 4.0)).toDF("k", "v"), dir, "k")
    assert(new java.io.File(dir, "notes/readme.txt").exists(),
      "foreign dir must survive every gc cycle")
    assert(new java.io.File(dir, "owner.txt").exists(),
      "foreign file must survive every gc cycle")
    assert(MergeByKey.readCommitted(spark, dir).count() == 4)
  }

  test("manifest robustness: multi-digit versions read to EOF; corrupt " +
    "manifests fail loudly instead of resolving a wrong snapshot") {
    val dir = Files.createTempDirectory("graft_manifest").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // hand-flip to a multi-digit version: the read must return ALL
    // digits (a short read of '1234567890' as '1' would silently
    // resolve an older snapshot). Drop the local-FS checksum sidecar
    // first — hand-editing the file invalidates it.
    def handWrite(content: String): Unit = {
      new java.io.File(dir, "._manifest.crc").delete()
      Files.writeString(new java.io.File(dir, "_manifest").toPath, content)
    }
    handWrite("1234567890\n")
    assert(MergeByKey.committedVersion(spark, dir) === Some(1234567890L))
    handWrite("")
    val eEmpty = intercept[IllegalStateException] {
      MergeByKey.committedVersion(spark, dir)
    }
    assert(eEmpty.getMessage.contains("corrupt manifest"))
    handWrite("vNaN")
    val eBad = intercept[IllegalStateException] {
      MergeByKey.committedVersion(spark, dir)
    }
    assert(eBad.getMessage.contains("corrupt manifest"))
  }

  test("CAS: two racing writers — exactly one wins each version claim, " +
    "the loser retries against the winner's snapshot, nothing orphaned") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val dir = Files.createTempDirectory("graft_cas").toString + "/t"
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def writer(k: String, v: Double) = Future {
      val df = Seq((k, v)).toDF("k", "v")
      barrier.await()
      MergeByKey.upsert(spark, df, dir, "k")
    }
    val (sa, sb) = (writer("A", 1.0), writer("B", 2.0))
    val statsA = Await.result(sa, 120.seconds)
    val statsB = Await.result(sb, 120.seconds)
    assert(statsA.incomingRows == 1 && statsB.incomingRows == 1)
    // the winner wrote one row; the loser's retry merged onto it
    assert(Set(statsA.mergedRows, statsB.mergedRows) == Set(1L, 2L))
    // both rows landed: the loser re-merged against the winner's commit
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
    // versions serialized: v=0 (winner) then v=1 (retried loser)
    assert(MergeByKey.committedVersion(spark, dir) === Some(1L))
    val entries = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(entries.filter(_.startsWith("v=")) == Set("v=0", "v=1"))
    assert(!entries.exists(_.startsWith(".stage-")),
      "losing writers must clean up their staging dirs")
  }

  test("manifest never flips backward: a stale CAS claim that would " +
    "roll committed v=N back to v<N is refused (r17 ADVICE, high)") {
    val dir = Files.createTempDirectory("graft_backflip").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(2L))
    // a stale writer that somehow reached the flip with an old claim
    // must be stopped by the backstop guard, leaving the manifest at 2
    val e = intercept[IllegalStateException] {
      MergeByKey.commitManifest(spark, dir, 1L)
    }
    assert(e.getMessage.contains("backward"))
    assert(MergeByKey.committedVersion(spark, dir) === Some(2L))
    // equal version is also a refusal (re-flip of the same slot)
    intercept[IllegalStateException] {
      MergeByKey.commitManifest(spark, dir, 2L)
    }
    // forward flips still work
    MergeByKey.upsert(spark, Seq(("D", 4.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.committedVersion(spark, dir) === Some(3L))
  }

  test("gc skips foreign v=<non-numeric> entries instead of failing " +
    "every later commit (r17 ADVICE, low)") {
    val dir = Files.createTempDirectory("graft_vx").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    // foreign content whose name collides with the version layout
    val foreign = new java.io.File(dir, "v=x")
    foreign.mkdirs()
    Files.writeString(new java.io.File(foreign, "keep.txt").toPath, "theirs")
    // enough commits that gc actually runs past the retain window
    (2 to 5).foreach { i =>
      MergeByKey.upsert(spark, Seq((s"K$i", i.toDouble)).toDF("k", "v"), dir, "k")
    }
    assert(MergeByKey.committedVersion(spark, dir) === Some(4L))
    assert(new java.io.File(foreign, "keep.txt").exists(),
      "foreign v=x content must never be touched")
  }

  test("time travel: readVersion resolves any live historical snapshot; " +
    "evicted and future versions fail loudly with the live range") {
    val dir = Files.createTempDirectory("graft_tt").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("A", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("A", 3.0)).toDF("k", "v"), dir, "k")
    // head is v=2; v=1 is within the retain window, v=0 was GC'd
    assert(MergeByKey.readVersion(spark, dir, 1L).rowsSet ==
      Set(Seq("A", 2.0)))
    assert(MergeByKey.readVersion(spark, dir, 2L).rowsSet ==
      MergeByKey.readCommitted(spark, dir).rowsSet)
    val evicted = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 0L)
    }
    assert(evicted.getMessage.contains("live committed versions"))
    val future = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 99L)
    }
    assert(future.getMessage.contains("committed head is v=2"))
  }

  test("retention contract: retain sizes reader slack across commits, " +
    "eviction fails with the NAMED retain-window error, and a version " +
    "dir without a commit record is never served as history") {
    val dir = Files.createTempDirectory("graft_retain").toString + "/t"
    // retain=4: a reader pinned to v=0 keeps resolving it while THREE
    // further commits land (head walks 0->3, gc keeps head-3..head)
    (1 to 4).foreach { i =>
      MergeByKey.upsert(spark, Seq(("A", i.toDouble)).toDF("k", "v"),
        dir, "k", retain = 4)
    }
    assert(MergeByKey.committedVersion(spark, dir) === Some(3L))
    assert(MergeByKey.readVersion(spark, dir, 0L).rowsSet ==
      Set(Seq("A", 1.0)), "retain=4 must keep v=0 across 3 commits")
    // two more commits at the DEFAULT retain=2 evict everything behind
    // head-1; the pinned reader's next resolve is the named error
    (5 to 6).foreach { i =>
      MergeByKey.upsert(spark, Seq(("A", i.toDouble)).toDF("k", "v"),
        dir, "k")
    }
    assert(MergeByKey.committedVersion(spark, dir) === Some(5L))
    val evicted = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 0L)
    }
    assert(evicted.getMessage.contains("retain window"),
      s"eviction must surface the retain-window contract: $evicted")
    // stale-claim defense (r18 ADVICE, medium): a v=K dir BEHIND the
    // head with no commit record is exactly what a stale writer's won-
    // then-rechecked claim looks like mid-flight — it must read as
    // "not history", never as data
    val fake = new java.io.File(dir, "v=1")
    fake.mkdirs()
    Seq(("A", 999.0)).toDF("k", "v").write.mode("overwrite")
      .parquet(fake.toString)
    val stale = intercept[IllegalStateException] {
      MergeByKey.readVersion(spark, dir, 1L)
    }
    assert(stale.getMessage.contains("uncommitted stale claim"),
      s"a recordless v= dir must be rejected by name: $stale")
    // the retained committed sibling (v=4, within retain=2 of head=5)
    // still resolves — the record requirement rejects only impostors
    assert(MergeByKey.readVersion(spark, dir, 4L).rowsSet ==
      Set(Seq("A", 5.0)))
  }

  test("diffVersions: keyed CDC between committed snapshots — added / " +
    "changed / unchanged across an upsert, removed across an overwrite") {
    val dir = Files.createTempDirectory("graft_diff").toString + "/t"
    MergeByKey.upsert(spark,
      Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark,
      Seq(("B", 20.0), ("C", 3.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.diffVersions(spark, dir, "k", 0L, 1L).rowsSet ==
      Set(Seq("A", "unchanged"), Seq("B", "changed"), Seq("C", "added")))
    // overwrite CAN drop keys — the diff must label them removed
    MergeByKey.overwrite(Seq(("B", 20.0)).toDF("k", "v"), dir)
    assert(MergeByKey.diffVersions(spark, dir, "k", 1L, 2L).rowsSet ==
      Set(Seq("A", "removed"), Seq("B", "unchanged"), Seq("C", "removed")))
    // a null-safe compare: null -> value and value -> null are changes
    val dir2 = Files.createTempDirectory("graft_diff2").toString + "/t"
    MergeByKey.overwrite(
      Seq(("A", Option.empty[Double]), ("B", Some(1.0))).toDF("k", "v"), dir2)
    MergeByKey.overwrite(
      Seq(("A", Some(2.0)), ("B", Option.empty[Double])).toDF("k", "v"), dir2)
    assert(MergeByKey.diffVersions(spark, dir2, "k", 0L, 1L).rowsSet ==
      Set(Seq("A", "changed"), Seq("B", "changed")))
  }

  test("probeLegacy: unreadable parquet-named legacy content fails the " +
    "commit loudly instead of silently dropping the legacy side " +
    "(r17 ADVICE, medium)") {
    val dir = Files.createTempDirectory("graft_corrupt").toString + "/t"
    new java.io.File(dir).mkdirs()
    // positively-identified parquet output name, garbage bytes: this
    // is (possibly corrupt) legacy DATA — treating it as "no legacy
    // store" would erase it from the first versioned commit
    Files.write(new java.io.File(dir, "part-00000.parquet").toPath,
      "not parquet at all".getBytes("UTF-8"))
    intercept[Exception] {
      MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    }
    // no manifest was committed — the store is untouched for a human
    assert(MergeByKey.committedVersion(spark, dir) === None)
  }

  /** The stats of one upsert agree with recounting both sides. */
  private def assertStats(stats: MergeByKey.MergeStats,
      incoming: org.apache.spark.sql.DataFrame, dir: String): Unit = {
    assert(stats.incomingRows == incoming.count(), s"incoming rows: $stats")
    assert(stats.mergedRows == MergeByKey.readCommitted(spark, dir).count(),
      s"merged rows: $stats")
  }

  test("upsert stats are observed during the write: first commit, merge, " +
    "overwriteColumns, outputPartitions and legacy migration") {
    val dir = Files.createTempDirectory("graft_stats").toString + "/t"
    val first = Seq(("A", 1.0, "x"), ("B", 2.0, "y")).toDF("k", "v", "s")
    val s0 = MergeByKey.upsert(spark, first, dir, "k")
    assert(s0 == MergeByKey.MergeStats(2L, 2L))
    assertStats(s0, first, dir)
    val second = Seq(("B", 20.0, "z"), ("C", 3.0, "w")).toDF("k", "v", "s")
    val s1 = MergeByKey.upsert(spark, second, dir, "k")
    assert(s1 == MergeByKey.MergeStats(2L, 3L))
    assertStats(s1, second, dir)
    val third = Seq(("C", 30.0, "q"), ("D", 4.0, "r")).toDF("k", "v", "s")
    val s2 = MergeByKey.upsert(spark, third, dir, "k",
      overwriteColumns = Some(Seq("v")))
    assert(s2 == MergeByKey.MergeStats(2L, 4L))
    assertStats(s2, third, dir)
    val wide = (1L to 200L).map(i => (s"K$i", i.toDouble, "p")).toDF("k", "v", "s")
    val s3 = MergeByKey.upsert(spark, wide, dir, "k", outputPartitions = 3)
    assert(s3 == MergeByKey.MergeStats(200L, 204L))
    assertStats(s3, wide, dir)

    val legacy = Files.createTempDirectory("graft_stats_legacy").toString + "/t"
    Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v").write.parquet(legacy)
    val migrating = Seq(("B", 5.0), ("C", 3.0), ("D", 4.0)).toDF("k", "v")
    val sl = MergeByKey.upsert(spark, migrating, legacy, "k")
    assert(sl == MergeByKey.MergeStats(3L, 4L))
    assertStats(sl, migrating, legacy)
  }

  test("empty incoming onto an existing store counts 0 rows in and keeps " +
    "every committed row, whether or not the optimizer prunes the " +
    "observed side") {
    val dir = Files.createTempDirectory("graft_stats_empty").toString + "/t"
    val base = Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v")
    MergeByKey.upsert(spark, base, dir, "k")
    val local = Seq.empty[(String, Double)].toDF("k", "v")
    val filtered = base.filter(lit(false))
    Seq(local, filtered).zipWithIndex.foreach { case (empty, i) =>
      val stats = MergeByKey.upsert(spark, empty, dir, "k")
      assert(stats == MergeByKey.MergeStats(0L, 2L), s"case $i: $stats")
      assertStats(stats, empty, dir)
      assert(MergeByKey.committedVersion(spark, dir) === Some(i + 1L))
      assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
        Set(Seq("A", 1.0), Seq("B", 2.0)))
    }
    // an empty first commit creates an empty store
    val fresh = Files.createTempDirectory("graft_stats_fresh").toString + "/t"
    assert(MergeByKey.upsert(spark, local, fresh, "k") ==
      MergeByKey.MergeStats(0L, 0L))
    assert(MergeByKey.readCommitted(spark, fresh).count() == 0)
  }

  test("one upsert onto an existing store is exactly one Spark action") {
    val dir = Files.createTempDirectory("graft_one_action").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0), ("B", 2.0)).toDF("k", "v"),
      dir, "k")
    val incoming = Seq(("B", 20.0), ("C", 3.0)).toDF("k", "v")
    val (stats, counts) = SparkCounts.of(spark)(
      MergeByKey.upsert(spark, incoming, dir, "k"))
    assert(counts.actions == 1, s"actions: ${counts.actionNames}")
    assert(stats == MergeByKey.MergeStats(2L, 3L))
  }

  test("readCommitted resolves a new version with no Spark job and the " +
    "schema inference would give, for nested, array, map, decimal and " +
    "timestamp columns") {
    val dir = Files.createTempDirectory("graft_schema").toString + "/t"
    val df = spark.range(4).select(
      col("id").cast("string").as("k"),
      struct(col("id").as("n"), array(col("id"), col("id") + 1).as("xs"))
        .as("nested"),
      array(struct((col("id") * 2).as("a"))).as("structs"),
      map(col("id").cast("string"), col("id").cast("double")).as("m"),
      (col("id") / 3).cast("decimal(12,4)").as("d"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      to_date(timestamp_seconds(col("id") * 86400)).as("day"),
      lit(null).cast("string").as("always_null"))
    MergeByKey.upsert(spark, df, dir, "k")
    MergeByKey.upsert(spark, df.limit(2), dir, "k")
    val (read, counts) = SparkCounts.of(spark)(
      MergeByKey.readCommitted(spark, dir))
    assert(counts.jobs == 0, s"jobs started by readCommitted: ${counts.jobs}")
    val inferred = spark.read.parquet(s"$dir/v=1")
    assert(read.schema == inferred.schema)
    assert(read.rowsSet == inferred.rowsSet)
    // the retained prior version resolves the same way
    val (prior, priorCounts) = SparkCounts.of(spark)(
      MergeByKey.readVersion(spark, dir, 0L))
    assert(priorCounts.jobs == 0)
    assert(prior.schema == spark.read.parquet(s"$dir/v=0").schema)
    // overwrite records the loaded frame's schema too
    MergeByKey.overwrite(df, dir)
    val (loaded, loadCounts) = SparkCounts.of(spark)(
      MergeByKey.readCommitted(spark, dir))
    assert(loadCounts.jobs == 0)
    assert(loaded.schema == spark.read.parquet(s"$dir/v=2").schema)
    assert(loaded.count() == 4)
  }

  test("a store whose commit records read `committed` still resolves, " +
    "by schema inference") {
    val dir = Files.createTempDirectory("graft_old_record").toString + "/t"
    MergeByKey.upsert(spark, Seq(("A", 1.0)).toDF("k", "v"), dir, "k")
    MergeByKey.upsert(spark, Seq(("B", 2.0)).toDF("k", "v"), dir, "k")
    // rewrite both records the way stores committed before the schema
    // was recorded hold them (drop the local-FS checksum sidecars first)
    Seq("v=0", "v=1").foreach { v =>
      new java.io.File(dir, s"$v/._graft_committed.crc").delete()
      Files.writeString(new java.io.File(dir, s"$v/_graft_committed").toPath,
        "committed")
    }
    assert(MergeByKey.readCommitted(spark, dir).rowsSet ==
      Set(Seq("A", 1.0), Seq("B", 2.0)))
    assert(MergeByKey.readVersion(spark, dir, 0L).rowsSet ==
      Set(Seq("A", 1.0)))
    // and the next commit merges onto it as usual
    MergeByKey.upsert(spark, Seq(("C", 3.0)).toDF("k", "v"), dir, "k")
    assert(MergeByKey.readCommitted(spark, dir).count() == 3)
  }
}
