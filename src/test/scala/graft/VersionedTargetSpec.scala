package graft

import java.nio.file.Files

import graft.ops.VersionedTarget

/** Retention/GC/concurrency contract of the versioned parquet targets
  * behind q109 (Rewrite) and q132/q145 (Segmented): vacuum deletes only
  * versions strictly older than the newest keepLast commits, so a reader
  * that resolved CURRENT up to keepLast-1 commits ago still reads a
  * complete table — never a half-deleted one; compaction commits in its
  * own id namespace and reconciles optimistically against commits that
  * land during the fold, so it can run truly off the ingest path.
  */
class VersionedTargetSpec extends SparkSpec {
  import spark.implicits._

  private def df(ids: Long*) =
    ids.map(i => (i, s"row$i")).toDF("id", "payload")

  test("Segmented: commit appends O(batch) segments; reads compose the manifest") {
    val root = Files.createTempDirectory("graft_vt_seg")
    val t = VersionedTarget.Segmented(root)
    assert(t.current(spark).isEmpty, "no version committed yet")
    t.commit(df(1L, 2L), 0L)
    t.commit(df(3L), 1L)
    t.commit(spark.emptyDataset[(Long, String)].toDF("id", "payload"), 2L)
    t.commit(df(4L), 3L)
    assert(VersionedTarget.currentVersion(root).contains("v3"))
    assert(t.committed(3L) && !t.committed(4L))
    assert(t.applied(3L) && t.applied(1L) && !t.applied(4L),
      "epoch guard covers every batch at-or-below the committed epoch")
    val ids = t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L))
    // time travel: any committed version reads its own prefix of segments
    val v1 = t.read(spark, "v1").get.select($"id").collect().map(_.getLong(0)).toSet
    assert(v1 == Set(1L, 2L, 3L))
  }

  test("Segmented: commit refuses a batch id at-or-below the current epoch " +
      "(it would overwrite a live segment in place)") {
    val root = Files.createTempDirectory("graft_vt_epoch")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    t.commit(df(2L), 1L)
    val before = t.current(spark).get.orderBy($"id").collect().toSeq
    intercept[IllegalArgumentException] { t.commit(df(99L), 1L) }: Unit
    intercept[IllegalArgumentException] { t.commit(df(99L), 0L) }: Unit
    assert(t.current(spark).get.orderBy($"id").collect().toSeq == before,
      "refused commit corrupted live data")
  }

  test("Segmented vacuum: keeps newest N manifests readable, GCs orphans, " +
      "never touches a retained reader's segments") {
    val root = Files.createTempDirectory("graft_vt_segvac")
    val t = VersionedTarget.Segmented(root)
    (0L to 4L).foreach(b => t.commit(df(b), b))
    // orphan from a crash BEFORE the pointer swap: segment written, no manifest
    df(99L).write.parquet(root.resolve("seg99").toString)
    // a reader resolved CURRENT one commit ago (v3) and still holds it
    val oldPointer = "v3"
    val deleted = t.vacuum(keepLast = 2)
    assert(deleted.toSet == Set("v0", "v1", "v2", "seg99"),
      s"vacuum must drop manifests strictly older than the newest 2 plus " +
        s"unreferenced segments, got $deleted")
    // append-only: every retained manifest still references ALL its
    // segments, so no data segment of v3/v4 may be deleted
    val live = t.read(spark, oldPointer).get.select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(live == Set(0L, 1L, 2L, 3L),
      s"reader holding $oldPointer saw a half-deleted table: $live")
    assert(t.current(spark).get.count() == 5)
    // dropped manifests no longer resolve at all (not partially)
    assert(t.read(spark, "v1").isEmpty)
  }

  test("Segmented compact: folds live segments into one IN ITS OWN ID " +
      "NAMESPACE, preserves content, keeps the pre-compaction reader whole") {
    val root = Files.createTempDirectory("graft_vt_compact")
    val t = VersionedTarget.Segmented(root)
    (0L to 3L).foreach(b => t.commit(df(b * 10, b * 10 + 1), b))
    val before = t.current(spark).get.orderBy($"id").collect().toSeq
    assert(t.segmentsOf("v3").size == 4, "one segment per commit pre-compaction")
    // a reader resolved CURRENT before the compaction and still holds v3
    val res = t.compact(spark)
    assert(res.isDefined, "4 live segments must compact")
    // the compaction's version and segment never collide with a stream
    // epoch: v3c1/seg3c1, NOT v4 — batch 4's identity stays available to
    // the stream, and the epoch is still 3 (no stream batch invented)
    assert(res.get.version == "v3c1" && res.get.segment == "seg3c1",
      s"compaction must commit in the c-namespace, got ${res.get}")
    assert(VersionedTarget.currentEpoch(root).contains(3L),
      "compaction must not advance the stream epoch")
    // content invariant: the merged segment carries exactly the same rows
    val after = t.current(spark).get.orderBy($"id").collect().toSeq
    assert(after == before, "compaction changed corpus content")
    assert(t.segmentsOf("v3c1") == Seq("seg3c1"), "compacted manifest = one segment")
    // bin-packing: collect-sized data folds to ONE part file, not one
    // file per input split (the point of compacting at all)
    val parts = root.resolve("seg3c1").toFile.listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parts == 1, s"expected 1 bin-packed part file, got $parts")
    // the pre-compaction reader's segments are all still on disk
    val v3 = t.read(spark, "v3").get.select($"id").collect().map(_.getLong(0)).toSet
    assert(v3 == before.map(_.getLong(0)).toSet,
      "reader holding v3 lost segments during compaction")
    // vacuum to the compacted version retires the folded segments
    val deleted = t.vacuum(keepLast = 1)
    assert(deleted.toSet == Set("v0", "v1", "v2", "v3", "seg0", "seg1", "seg2", "seg3"),
      s"vacuum after compact must retire the folded segments, got $deleted")
    assert(t.current(spark).get.orderBy($"id").collect().toSeq == before)
    // appends continue on top of the compacted segment at the next epoch
    t.commit(df(100L), 4L)
    assert(t.segmentsOf("v4") == Seq("seg3c1", "seg4"))
    assert(t.current(spark).get.count() == before.size + 1)
  }

  test("Segmented compact: the epoch guard keeps a batch replayed AFTER a " +
      "compaction skipped — the fold already contains its rows") {
    val root = Files.createTempDirectory("graft_vt_replay")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    t.commit(df(2L), 1L)
    assert(t.compact(spark).isDefined)
    // CURRENT is now v1c1 — pointer equality would say "batch 1 never
    // committed" and re-apply it (duplicating its rows inside the fold);
    // the epoch guard says applied
    assert(!t.committed(1L), "pointer moved past v1")
    assert(t.applied(1L) && t.applied(0L),
      "epoch guard must hold across the compaction")
    assert(!t.applied(2L), "future batches still unapplied")
  }

  test("Segmented compact: a commit landing DURING the fold is reconciled " +
      "into the compacted manifest — no committed row lost") {
    val root = Files.createTempDirectory("graft_vt_race")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b), b))
    // the race the docstring used to forbid: batch 3 commits between the
    // fold's segment write and its pointer transaction
    val res = t.compact(spark, afterFold = (_, _) => t.commit(df(30L, 31L), 3L))
    assert(res.isDefined, "a racing commit must not abort the fold")
    assert(res.get.reconciled == Seq("seg3"),
      s"batch 3's segment must ride the reconciled manifest, got ${res.get}")
    // epoch follows the newest commit, so batch 3 stays replay-guarded
    assert(res.get.version == "v3c1" && t.applied(3L),
      s"reconciled version must carry epoch 3, got ${res.get.version}")
    val ids = t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L, 30L, 31L),
      s"reconciliation lost or duplicated rows: $ids")
    // and the manifest composes: fold first (oldest data), then the rider
    assert(t.segmentsOf("v3c1") == Seq("seg2c1", "seg3"))
  }

  test("Segmented compact: a CONCURRENT COMPACTION that retired part of the " +
      "fold aborts cleanly — two overlapping folds would duplicate rows") {
    val root = Files.createTempDirectory("graft_vt_ccomp")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b), b))
    val before = t.current(spark).get.orderBy($"id").collect().toSeq
    var inner: Option[VersionedTarget.Compacted] = None
    val outer = t.compact(spark, afterFold = (_, _) => {
      inner = t.compact(spark)
      inner.foreach(_ => t.vacuum(1): Unit) // inner fold retires seg0..seg2
    })
    assert(inner.isDefined, "inner compaction must win")
    assert(outer.isEmpty, "outer compaction must detect the retired fold and abort")
    assert(t.current(spark).get.orderBy($"id").collect().toSeq == before,
      "aborted compaction corrupted live data")
    // the aborted fold's segment (the outer reservation, seg2c1) is
    // deleted, not left behind as garbage the next reader could trip on
    assert(!Files.exists(root.resolve("seg2c1")),
      "aborted fold segment must be deleted")
  }

  test("vacuum racing a fold: the in-flight merged segment is marker-shielded, " +
      "the fold commits, and the corpus stays readable") {
    val root = Files.createTempDirectory("graft_vt_vacrace")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b), b))
    val before = t.current(spark).get.orderBy($"id").collect().toSeq
    // the production race: the ingest path vacuums after every commit,
    // and one lands between the fold's data write and its pointer txn —
    // the merged segment is in NO manifest yet, but must survive
    val res = t.compact(spark, afterFold = (_, _) => {
      t.commit(df(30L), 3L)
      t.vacuum(VersionedTarget.DefaultRetain): Unit
    })
    assert(res.isDefined, "vacuum during the fold must not kill the compaction")
    assert(Files.exists(root.resolve(res.get.segment)),
      "in-flight merged segment was swept by the racing vacuum")
    val ids = t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L, 30L),
      s"corpus unreadable or wrong after the race: $ids")
    // after the fold committed, its marker is gone and retention works
    t.vacuum(1): Unit
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(0L, 1L, 2L, 30L))
    assert(before.map(_.getLong(0)).toSet.subsetOf(ids))
  }

  test("vacuum vs an in-flight commit: a fresh marker shields the " +
      "mid-write segment; a stale marker is swept with its orphan") {
    val root = Files.createTempDirectory("graft_vt_marker")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    // simulate a commit between its data write and its manifest write:
    // marker + unreferenced segment dir on disk (what a concurrent
    // process' commit looks like from this process' vacuum)
    Files.write(root.resolve(".inflight-seg5"), "t".getBytes("UTF-8"))
    df(50L).write.parquet(root.resolve("seg5").toString)
    val deleted = t.vacuum(keepLast = 1)
    assert(!deleted.contains("seg5") && Files.exists(root.resolve("seg5")),
      s"vacuum swept a marker-shielded in-flight segment: $deleted")
    // the writer finishes normally afterwards
    t.commit(df(2L), 6L)
    assert(t.current(spark).get.count() == 2)
    // a CRASHED writer's marker goes stale; TTL-expired orphans (and
    // their markers) are swept together
    Files.write(root.resolve(".inflight-seg9"), "t".getBytes("UTF-8"))
    df(90L).write.parquet(root.resolve("seg9").toString)
    val swept = t.vacuum(keepLast = 1, inflightTtlMs = 0L)
    assert(swept.contains("seg9") && !Files.exists(root.resolve("seg9")) &&
      !Files.exists(root.resolve(".inflight-seg9")),
      s"stale-marker orphan not swept: $swept")
  }

  test("Segmented compact: a crash before the pointer swap leaves CURRENT " +
      "whole and vacuum sweeps the orphaned merged segment") {
    val root = Files.createTempDirectory("graft_vt_compact_crash")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b), b))
    // simulate the crash: the merged segment landed (with its reserved
    // c-namespace name), but neither the manifest nor the pointer moved
    t.current(spark).get.write.parquet(root.resolve("seg2c1").toString)
    assert(VersionedTarget.currentVersion(root).contains("v2"),
      "a half-done compaction must not be visible")
    val before = t.current(spark).get.orderBy($"id").collect().toSeq
    // recovery: vacuum retires the unreferenced orphan; a re-run compact
    // picks a FRESH sequence number and succeeds
    val deleted = t.vacuum(keepLast = 3)
    assert(deleted.contains("seg2c1"), s"orphan merged segment not swept: $deleted")
    val res = t.compact(spark)
    assert(res.isDefined)
    assert(t.current(spark).get.orderBy($"id").collect().toSeq == before)
  }

  test("Segmented compact: a crashed orphan still on disk is never " +
      "overwritten — the next compaction takes a fresh sequence number") {
    val root = Files.createTempDirectory("graft_vt_compact_seq")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b), b))
    df(99L).write.parquet(root.resolve("seg1c1").toString) // crashed attempt
    val res = t.compact(spark)
    assert(res.exists(_.segment == "seg2c2"),
      s"compaction must skip the orphan's sequence number, got $res")
    val ids = t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L, 1L, 2L), "orphan data leaked into the live corpus")
  }

  test("Segmented compact: no-op on empty or already-single-segment targets") {
    val root = Files.createTempDirectory("graft_vt_compact_noop")
    val t = VersionedTarget.Segmented(root)
    assert(t.compact(spark).isEmpty, "nothing committed: compact must refuse")
    t.commit(df(1L), 0L)
    assert(t.compact(spark).isEmpty, "single segment: nothing to fold")
    assert(VersionedTarget.currentVersion(root).contains("v0"),
      "a refused compaction must not move the pointer")
  }

  test("property: random commit/compact/vacuum interleavings always read as " +
      "the union of committed batches") {
    import org.scalacheck.Gen
    // op stream: 1 = commit (next batch of fresh ids), 2 = compact,
    // 3 = vacuum(2) — the three lifecycle verbs in arbitrary order
    val genOps = Gen.listOfN(7, Gen.chooseNum(1, 3))
    val cases = (1 to 8).flatMap(_ => genOps.sample).take(4)
    for (ops <- cases) {
      val root = Files.createTempDirectory("graft_vt_prop")
      val t = VersionedTarget.Segmented(root)
      var epoch = 0L
      var committed = Set.empty[Long]
      ops.foreach {
        case 1 =>
          val ids = Seq(epoch * 10, epoch * 10 + 1)
          t.commit(df(ids: _*), epoch); committed ++= ids; epoch += 1
        case 2 =>
          t.compact(spark): Unit // own namespace: never consumes an epoch
        case _ =>
          if (VersionedTarget.currentVersion(root).isDefined) t.vacuum(2): Unit
      }
      val read = t.current(spark)
        .map(_.select($"id").collect().map(_.getLong(0)).toSet)
        .getOrElse(Set.empty[Long])
      assert(read == committed,
        s"ops $ops: read $read but committed $committed")
    }
  }

  test("Rewrite: commit swaps atomically; vacuum deletes only strictly-older versions") {
    val root = Files.createTempDirectory("graft_vt_rw")
    val t = VersionedTarget.Rewrite(root)
    assert(t.current(spark).isEmpty)
    (0L to 4L).foreach(b => t.commit(df(0L to b: _*), b))
    assert(t.committed(4L) && !t.committed(2L))
    val deleted = t.vacuum(keepLast = 2)
    assert(deleted == Seq("v0", "v1", "v2"), s"got $deleted")
    // reader that resolved CURRENT one commit ago still reads v3 whole
    assert(t.read(spark, "v3").select($"id").collect().map(_.getLong(0)).toSet ==
      (0L to 3L).toSet)
    assert(t.current(spark).get.count() == 5)
    assert(!Files.exists(root.resolve("v2")), "v2 must be gone entirely")
  }

  test("Segmented: a crash between data write and pointer swap is healed by " +
      "redelivery; vacuum sweeps what the crash orphaned") {
    val root = Files.createTempDirectory("graft_vt_crash")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    // simulate batch 1 crashing AFTER writing its segment and manifest but
    // BEFORE the atomic pointer swap: garbage data, unreferenced by CURRENT
    df(99L).write.parquet(root.resolve("seg1").toString)
    Files.write(root.resolve("v1"), "seg0\nseg1".getBytes("UTF-8"))
    assert(!t.applied(1L), "pointer never moved — batch 1 must not read as applied")
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet ==
      Set(1L), "readers must still see only v0")
    // streaming redelivers batch 1; the re-run overwrites the partial
    // segment + manifest and completes the swap
    t.commit(df(2L), 1L)
    assert(t.applied(1L))
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L), "redelivered commit must replace the crashed attempt's data")
    // and if the crashed attempt is instead ABANDONED (no redelivery),
    // vacuum sweeps its orphan segment once it falls out of retention
    df(98L).write.parquet(root.resolve("seg7").toString) // orphan, no manifest
    val deleted = t.vacuum(keepLast = 2)
    assert(deleted.contains("seg7"), s"orphan segment not swept: $deleted")
  }

  test("partitioned Segmented: a cell predicate prunes to its hive partitions " +
      "in EVERY segment of the union read, and compaction keeps the layout") {
    val root = Files.createTempDirectory("graft_vt_part")
    val t = VersionedTarget.Segmented(root, partitionCols = Seq("cell"))
    def dfc(rows: (Long, Long)*) = rows.toSeq.toDF("id", "cell")
    t.commit(dfc(1L -> 1L, 2L -> 2L, 3L -> 3L), 0L)
    t.commit(dfc(10L -> 1L, 30L -> 3L), 1L)
    // the q142/q144/q151 serving claim: a probe's cell filter must reach
    // the scan as a PARTITION filter (directory pruning) on BOTH segment
    // roots — not a post-scan row filter
    val q = t.current(spark).get.filter($"cell" === 3L)
    val planStr = q.queryExecution.executedPlan.toString
    val partFilters = "PartitionFilters: \\[[^\\]]*cell[^\\]]*3".r
      .findAllIn(planStr).size
    assert(partFilters == 2,
      s"expected the cell=3 partition filter on both segment scans:\n$planStr")
    assert(q.select($"id").collect().map(_.getLong(0)).toSet == Set(3L, 30L))
    // compaction rewrites into ONE segment and the pruning still applies
    val res = t.compact(spark)
    assert(res.isDefined)
    t.vacuum(1): Unit
    assert(Option(root.resolve(res.get.segment).toFile.listFiles()).toSeq
      .flatten.exists(_.getName.startsWith("cell=")),
      "compacted segment lost its hive layout")
    val q2 = t.current(spark).get.filter($"cell" === 3L)
    assert(q2.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "post-compaction read lost partition pruning")
    assert(q2.select($"id").collect().map(_.getLong(0)).toSet == Set(3L, 30L))
  }

  test("partitioned deleteWhere: the rewritten segment keeps the hive layout " +
      "and partition pruning; an untouched partitioned segment stays by " +
      "reference (the q156 index-takedown shape)") {
    val root = Files.createTempDirectory("graft_vt_partdel")
    val t = VersionedTarget.Segmented(root, partitionCols = Seq("cell"))
    def dfc(rows: (Long, Long)*) = rows.toSeq.toDF("id", "cell")
    t.commit(dfc(1L -> 1L, 2L -> 2L, 3L -> 3L), 0L)
    t.commit(dfc(10L -> 1L, 30L -> 3L), 1L)
    val seg1Before = root.resolve("seg1").toFile.listFiles().map(_.getName).sorted.toSeq
    // revoke id 2 — it lives in seg0 only, so seg1 must stay untouched
    val res = t.deleteWhere(spark, $"id" === 2L)
    assert(res.isDefined && res.get.touched == Seq("seg0"), s"got $res")
    assert(root.resolve("seg1").toFile.listFiles().map(_.getName).sorted.toSeq
      == seg1Before, "untouched partitioned segment was rewritten")
    assert(Option(root.resolve(res.get.segment).toFile.listFiles()).toSeq
      .flatten.exists(_.getName.startsWith("cell=")),
      "rewritten segment lost its hive layout")
    val q = t.current(spark).get.filter($"cell" === 1L)
    assert(q.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "post-takedown read lost partition pruning")
    assert(q.select($"id").collect().map(_.getLong(0)).toSet == Set(1L, 10L))
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L, 10L, 30L))
  }

  test("clusterCommits: an opted-in partitioned commit writes ONE file per " +
      "key value regardless of upstream partitioning; the default keeps the " +
      "caller's layout (no ingest-path shuffle)") {
    def files(root: java.nio.file.Path, seg: String): Map[String, Int] =
      Option(root.resolve(seg).toFile.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("cell="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    // 8 upstream partitions × 2 cells, every partition holds both cells
    val wide = spark.range(0, 64, 1, 8).selectExpr("id", "id % 2 AS cell")
    val r1 = Files.createTempDirectory("graft_vt_cluster_on")
    val on = VersionedTarget.Segmented(r1, partitionCols = Seq("cell"),
      clusterCommits = true)
    on.commit(wide, 0L)
    assert(files(r1, "seg0") == Map("cell=0" -> 1, "cell=1" -> 1),
      s"clustered commit must write one file per key: ${files(r1, "seg0")}")
    val r2 = Files.createTempDirectory("graft_vt_cluster_off")
    val off = VersionedTarget.Segmented(r2, partitionCols = Seq("cell"))
    off.commit(wide, 0L)
    assert(files(r2, "seg0").values.forall(_ == 8),
      s"default commit must keep the caller's layout: ${files(r2, "seg0")}")
    // same rows either way — clustering is layout-only
    assert(on.current(spark).get.select($"id").collect().map(_.getLong(0)).sorted
      .toSeq == off.current(spark).get.select($"id").collect()
      .map(_.getLong(0)).sorted.toSeq)
  }

  test("cross-PROCESS exclusion: a second JVM holding the pointer lock blocks " +
      "a commit's manifest+swap transaction until it releases") {
    // every same-JVM test serializes on the per-root monitor BEFORE the
    // OS file lock is contended — this is the only test that exercises
    // the FileLock half (two writer JVMs against one mounted store).
    val root = Files.createTempDirectory("graft_vt_xproc")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    val holdMs = 5000L
    val javaBin = System.getProperty("java.home") + "/bin/java"
    // Test / fork := true, so this JVM's classpath is the real test
    // classpath (LockHold needs only graft classes + scala-library)
    val pb = new ProcessBuilder(javaBin,
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.LockHold", root.toString, holdMs.toString)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val first = out.readLine() // blocks until the child holds the lock
    assert(first == "LOCKED", s"lock-holder failed to start: $first")
    val t0 = System.nanoTime()
    t.commit(df(2L), 1L) // data write proceeds; the pointer txn must block
    val commitMs = (System.nanoTime() - t0) / 1e6
    assert(proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS),
      "lock-holder did not exit")
    // the commit can only have completed after the child released: its
    // wall time covers the remaining hold (minus the child's startup
    // and the commit's own data write, generously margined)
    // an uncontended commit runs ~0.5-0.9 s on this box (the
    // steady-state line of `tools/MergeScale`, removed after 7154dcb);
    // 2 s can only be explained by lock wait
    assert(commitMs > 2000,
      f"commit finished in $commitMs%.0f ms — it never blocked on the " +
        "cross-process lock")
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L), "commit after lock release lost data")
  }

  test("schema evolution: a later segment adds a column — old segments read " +
      "it as NULL, compaction folds to the merged schema, type changes fail") {
    val root = Files.createTempDirectory("graft_vt_evolve")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L, 2L), 0L)
    // the corpus evolved: batch 1 ships an additional column
    t.commit(Seq((3L, "row3", "en")).toDF("id", "payload", "lang"), 1L)
    val merged = t.current(spark).get
    assert(merged.columns.toSet == Set("id", "payload", "lang"),
      s"merged schema wrong: ${merged.columns.toSeq}")
    val byId = merged.collect().map(r => r.getLong(0) ->
      Option(r.getAs[String]("lang"))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some("en")),
      s"pre-evolution rows must surface NULL for the added column: $byId")
    // the fold materialises the merged schema; content unchanged
    assert(t.compact(spark).isDefined)
    val after = t.current(spark).get
    assert(after.columns.toSet == Set("id", "payload", "lang"))
    assert(after.collect().map(r => r.getLong(0) ->
      Option(r.getAs[String]("lang"))).toMap == byId,
      "compaction changed evolved-schema content")
    // additive only: an incompatible TYPE change on an existing column is
    // a rewrite, not an append — the stored-schema merge fails the COMMIT
    // loudly (fail-fast, before any data write), never coerces
    val te = intercept[Exception] {
      t.commit(Seq((9.5, "bad")).toDF("id", "payload"), 5L)
    }
    assert(te.getMessage.contains("rewrite, not an append"),
      s"type change must fail the commit: ${te.getMessage}")
  }

  test("schema evolution on the PARTITIONED path: the basePath union surfaces " +
      "a later segment's added data column as NULL on older segments") {
    val root = Files.createTempDirectory("graft_vt_evolve_part")
    val t = VersionedTarget.Segmented(root, partitionCols = Seq("cell"))
    t.commit(Seq((1L, 1L), (2L, 2L)).toDF("id", "cell"), 0L)
    t.commit(Seq((3L, 1L, 0.5)).toDF("id", "cell", "score"), 1L)
    val merged = t.current(spark).get
    assert(merged.columns.toSet == Set("id", "cell", "score"))
    val byId = merged.collect().map(r => r.getLong(0) ->
      Option(r.getAs[Any]("score"))).toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some(0.5)),
      s"partitioned union lost the evolved column semantics: $byId")
    // pruning still holds on the evolved union
    assert(merged.filter($"cell" === 1L).count() == 2)
  }

  test("two-thread stress: an ingest thread commits while a maintenance " +
      "thread compacts on its own cadence — no committed row is ever lost") {
    // the afterFold-injection tests pin each interleaving deterministically;
    // this run adds schedule diversity: real threads, real lock contention,
    // the invariant (read == union of committed batches) checked at the end.
    val root = Files.createTempDirectory("graft_vt_threads")
    val t = VersionedTarget.Segmented(root)
    val batches = 8
    val ingest = new Thread(() => {
      (0 until batches).foreach { b =>
        t.commit(df(b * 10L, b * 10L + 1L), b.toLong)
      }
    })
    @volatile var folds = 0
    @volatile var stop = false // flag, not interrupt: an interrupt closes
    // an in-flight FileChannel (ClosedByInterruptException) mid-txn
    val maintenance = new Thread(() => {
      while (!stop) {
        if (t.compact(spark).isDefined) folds += 1
        // retention runs on the SAME maintenance cadence as production —
        // the marker protocol must keep it from sweeping in-flight work
        t.vacuum(2): Unit
        Thread.sleep(30)
      }
    })
    maintenance.start()
    ingest.start()
    ingest.join(120000)
    stop = true
    maintenance.join(120000)
    val expected = (0 until batches)
      .flatMap(b => Seq(b * 10L, b * 10L + 1L)).toSet
    val got = t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"after $folds concurrent folds: read $got but committed $expected")
    assert(VersionedTarget.currentEpoch(root).contains(batches - 1L),
      "epoch must track the newest commit through every fold")
  }

  test("Segmented vacuum: an orphan manifest sorting NEWER than CURRENT (crash " +
      "between manifest write and pointer swap) is debris, never retained — " +
      "vacuum(1) must not strand the pointer") {
    val root = Files.createTempDirectory("graft_vt_orphanman")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b), b))
    // crash debris: manifest v9 landed (names a segment that exists),
    // but the pointer never moved — CURRENT still says v2
    df(90L).write.parquet(root.resolve("seg9").toString)
    Files.write(root.resolve("v9"), "seg0\nseg1\nseg2\nseg9".getBytes("UTF-8"))
    assert(VersionedTarget.currentVersion(root).contains("v2"))
    val deleted = t.vacuum(keepLast = 1)
    // the regression this pins: retain-by-name-sort would keep ONLY v9
    // and delete v2 — CURRENT would dangle and the table read as empty
    assert(deleted.contains("v9"), s"orphan manifest must be swept: $deleted")
    assert(VersionedTarget.currentVersion(root).contains("v2"),
      "vacuum must never move the pointer")
    assert(t.current(spark).isDefined &&
      t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet ==
        Set(0L, 1L, 2L),
      "CURRENT must stay fully readable after sweeping the orphan manifest")
    // the orphan's unreferenced segment goes with it (no marker)
    assert(deleted.contains("seg9") && !Files.exists(root.resolve("seg9")))
  }

  test("Segmented vacuum: a stale in-flight marker whose segment dir never " +
      "landed is swept, so it cannot pin the compaction sequence forever") {
    val root = Files.createTempDirectory("graft_vt_markerleak")
    val t = VersionedTarget.Segmented(root)
    (0L to 1L).foreach(b => t.commit(df(b), b))
    // crash inside Spark's overwrite delete-recreate window: the marker
    // survived, the reserved dir did not
    Files.write(root.resolve(".inflight-seg1c7"), "t".getBytes("UTF-8"))
    t.vacuum(keepLast = 2): Unit // fresh marker: must survive this pass
    assert(Files.exists(root.resolve(".inflight-seg1c7")),
      "a fresh dirless marker may still belong to a live reservation")
    t.vacuum(keepLast = 2, inflightTtlMs = 0L): Unit
    assert(!Files.exists(root.resolve(".inflight-seg1c7")),
      "stale dirless marker must be swept")
    // with the leak gone, the next compaction is NOT pinned past c7
    val res = t.compact(spark)
    assert(res.exists(_.segment == "seg1c1"),
      s"compaction sequence must restart below the swept marker, got $res")
  }

  test("Segmented rebase: commits a FRESH BASE that drops prior segments from " +
      "the manifest; older versions stay whole until vacuum") {
    val root = Files.createTempDirectory("graft_vt_rebase")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b), b))
    // the refit verb: new content REPLACES the drifted index
    t.rebase(df(100L, 101L), 3L)
    assert(VersionedTarget.currentVersion(root).contains("v3"))
    assert(t.segmentsOf("v3") == Seq("seg3"), "rebase manifest = one fresh segment")
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet ==
      Set(100L, 101L), "rebase must serve ONLY the fresh base")
    // a reader that resolved CURRENT before the rebase keeps its table
    assert(t.read(spark, "v2").get.select($"id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L))
    // retirement: vacuum drops the pre-rebase manifests and their segments
    val deleted = t.vacuum(keepLast = 1)
    assert(Seq("v0", "v1", "v2", "seg0", "seg1", "seg2").forall(deleted.contains),
      s"vacuum after rebase must retire the replaced index: $deleted")
    assert(t.current(spark).get.count() == 2)
    // the epoch guard still applies: a rebase cannot rewind the clock
    intercept[IllegalArgumentException] { t.rebase(df(7L), 3L) }: Unit
    // and appends continue on top of the new base
    t.commit(df(102L), 4L)
    assert(t.segmentsOf("v4") == Seq("seg3", "seg4"))
  }

  test("same-JVM writers through SYMLINK ALIASES of one root share a monitor " +
      "(toRealPath) — they serialize instead of crashing on the OS file lock") {
    val real = Files.createTempDirectory("graft_vt_alias")
    val linkParent = Files.createTempDirectory("graft_vt_aliaslnk")
    val alias = linkParent.resolve("store")
    try Files.createSymbolicLink(alias, real)
    catch { case _: UnsupportedOperationException => cancel("no symlink support") }
    val t1 = VersionedTarget.Segmented(real)
    val t2 = VersionedTarget.Segmented(alias)
    t1.commit(df(1L, 2L), 0L)
    (1L to 4L).foreach(b => t1.commit(df(b * 10L), b))
    // writer A appends through the real path while writer B runs the
    // maintenance verbs through the alias: every pointer transaction on
    // both paths must hit ONE monitor, or the second same-JVM FileLock
    // attempt throws OverlappingFileLockException
    @volatile var failure: Option[Throwable] = None
    val a = new Thread(() => {
      try (5L to 10L).foreach(b => t1.commit(df(b * 10L), b))
      catch { case e: Throwable => failure = Some(e) }
    })
    val b = new Thread(() => {
      try (1 to 6).foreach { _ => t2.compact(spark): Unit; t2.vacuum(2): Unit }
      catch { case e: Throwable => failure = Some(e) }
    })
    a.start(); b.start(); a.join(120000); b.join(120000)
    assert(failure.isEmpty, s"alias writers crashed: $failure")
    val ids = t1.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L) ++ (1L to 10L).map(_ * 10L).toSet,
      s"alias-path concurrency lost rows: $ids")
  }

  test("Rewrite hardening: epoch guard refuses a replayed batch id, and a " +
      "pre-swap crash orphan version dir is healed in place by redelivery") {
    val root = Files.createTempDirectory("graft_vt_rwharden")
    val t = VersionedTarget.Rewrite(root)
    t.commit(df(1L), 0L)
    t.commit(df(1L, 2L), 1L)
    val before = t.current(spark).get.orderBy($"id").collect().toSeq
    intercept[IllegalArgumentException] { t.commit(df(99L), 1L) }: Unit
    intercept[IllegalArgumentException] { t.commit(df(99L), 0L) }: Unit
    assert(t.current(spark).get.orderBy($"id").collect().toSeq == before,
      "refused Rewrite commit corrupted live data")
    // pre-swap crash: v2's dir landed, pointer still names v1
    df(99L).write.parquet(root.resolve("v2").toString)
    assert(VersionedTarget.currentVersion(root).contains("v1"))
    // redelivery heals: the crashed dir is replaced, the pointer moves
    t.commit(df(1L, 2L, 3L), 2L)
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L), "redelivered Rewrite commit must replace the crashed dir")
  }

  test("Rewrite vacuum: a version dir NEWER than CURRENT is a crash orphan — " +
      "never retained (no dangling pointer), swept only once stale") {
    val root = Files.createTempDirectory("graft_vt_rworphan")
    val t = VersionedTarget.Rewrite(root)
    (0L to 2L).foreach(b => t.commit(df(0L to b: _*), b))
    df(99L).write.parquet(root.resolve("v9").toString) // pre-swap crash debris
    val deleted = t.vacuum(keepLast = 1)
    // the dangling-pointer regression: retain-by-name would keep v9 and
    // delete v2 — CURRENT would point at nothing
    assert(!deleted.contains("v2") && Files.exists(root.resolve("v2")),
      s"vacuum deleted the version CURRENT names: $deleted")
    assert(t.current(spark).get.count() == 3, "CURRENT must stay readable")
    // the fresh orphan survives this pass (a redelivery may be mid-flight)…
    assert(Files.exists(root.resolve("v9")))
    // …and is swept once stale
    val swept = t.vacuum(keepLast = 1, staleTtlMs = 0L)
    assert(swept.contains("v9") && !Files.exists(root.resolve("v9")),
      s"stale orphan version dir not swept: $swept")
  }

  test("schema evolution: a DROPPED column is additive-symmetric — the " +
      "dropping segment reads it as NULL; a TYPE change fails loudly on the " +
      "PARTITIONED path too (no silent widening)") {
    // dropped column, unpartitioned: parquet mergeSchema unions footers
    // symmetrically, so the later segment surfaces NULL — pinned semantics
    val root = Files.createTempDirectory("graft_vt_dropcol")
    val t = VersionedTarget.Segmented(root)
    t.commit(Seq((1L, "row1", "en")).toDF("id", "payload", "lang"), 0L)
    t.commit(df(2L), 1L) // batch 1 dropped `lang`
    val byId = t.current(spark).get.collect()
      .map(r => r.getLong(0) -> Option(r.getAs[String]("lang"))).toMap
    assert(byId == Map(1L -> Some("en"), 2L -> None),
      s"dropped column must read as NULL on the dropping segment: $byId")
    // type change, PARTITIONED path: unionByName alone would silently
    // widen long→double; the commit-time schema merge must fail loudly
    val root2 = Files.createTempDirectory("graft_vt_parttype")
    val t2 = VersionedTarget.Segmented(root2, partitionCols = Seq("cell"))
    t2.commit(Seq((1L, 1L)).toDF("id", "cell"), 0L)
    val e = intercept[Exception] {
      t2.commit(Seq((2.5, 1L)).toDF("id", "cell"), 1L)
    }
    assert(e.getMessage.contains("rewrite, not an append"),
      s"partitioned type change must fail loudly, got: ${e.getMessage}")
  }

  test("cross-PROCESS stress: a second JVM commits real batches while this " +
      "JVM compacts and vacuums — the final manifest is the union of both") {
    // LockHold proves the lock BLOCKS; this drives the subtle paths —
    // reconcile (a fold racing the child's commits must carry them) and
    // the marker protocol — under real two-process schedules.
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft_vt_storm")
    val t = VersionedTarget.Segmented(root)
    (0L to 2L).foreach(b => t.commit(df(b * 10L, b * 10L + 1L), b))
    val childBatches = 3L to 8L
    val cmd = childJvmCmd("graft.tools.CommitStorm", Seq(root.toString,
      childBatches.head.toString, childBatches.size.toString))
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    // drain the child's output on a thread (a full pipe buffer would
    // deadlock the child) while watching for READY / COMMITTED lines
    @volatile var ready = false
    @volatile var committed = 0
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drain = new Thread(() => {
      var l = out.readLine()
      while (l != null) {
        if (l == "READY") ready = true
        if (l.startsWith("COMMITTED")) committed += 1
        lines.add(l)
        l = out.readLine()
      }
    })
    drain.setDaemon(true)
    drain.start()
    val t0 = System.nanoTime()
    while (!ready && (System.nanoTime() - t0) < 120e9) Thread.sleep(100)
    assert(ready, s"CommitStorm never came up:\n${lines.asScala.mkString("\n")}")
    // maintenance cadence in THIS JVM while the child commits over there —
    // folds AND takedowns (the delete verb shares the fold's optimistic
    // protocol; racing the child's commits drives its reconcile path, and
    // racing the fold drives its abort path; a delete landing before the
    // child commits id 41 is legitimately a no-op — the final drain below
    // makes the invariant deterministic)
    var folds = 0
    var takedowns = 0
    while (proc.isAlive) {
      if (t.compact(spark).isDefined) folds += 1
      if (t.deleteWhere(spark, $"id" === 41L).isDefined) takedowns += 1
      t.vacuum(2): Unit
      Thread.sleep(50)
    }
    assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS) &&
      proc.exitValue() == 0,
      s"CommitStorm failed:\n${lines.asScala.mkString("\n")}")
    // the drain thread may still be consuming the pipe's final buffered
    // lines after child exit — join it before reading its counter
    drain.join(10000)
    assert(committed == childBatches.size,
      s"child committed $committed of ${childBatches.size}")
    // drain the takedown (id 41 surely committed by now — snapshot-scoped
    // deletes re-run until None), one more fold, then the invariant
    if (t.deleteWhere(spark, $"id" === 41L).isDefined) takedowns += 1
    assert(t.deleteWhere(spark, $"id" === 41L).isEmpty, "takedown must drain")
    t.compact(spark): Unit
    t.vacuum(1): Unit
    assert(takedowns >= 1, "id 41 was committed and must have been taken down")
    val expected = ((0L to 2L) ++ childBatches)
      .flatMap(b => Seq(b * 10L, b * 10L + 1L)).toSet - 41L
    val got = t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"after $folds cross-process folds + $takedowns takedowns: " +
        s"read $got but committed $expected")
    assert(VersionedTarget.currentEpoch(root).contains(childBatches.last),
      "epoch must track the child's newest commit")
  }

  test("manifest TAG: set by a tagged commit, inherited by later commits, " +
      "carried through compaction, replaced by rebase — and never read as a " +
      "segment name") {
    val root = Files.createTempDirectory("graft_vt_tag")
    val t = VersionedTarget.Segmented(root)
    assert(t.currentTag.isEmpty)
    t.commit(df(1L), 0L, tag = Some("quantA"))
    assert(t.currentTag.contains("quantA"))
    // inheritance: an untagged commit carries the stamp forward
    t.commit(df(2L), 1L)
    assert(t.currentTag.contains("quantA"))
    assert(t.segmentsOf("v1") == Seq("seg0", "seg1"),
      "the #tag header must never surface as a segment name")
    assert(t.current(spark).get.count() == 2)
    // compaction is physical: the fold keeps the tag
    assert(t.compact(spark).isDefined)
    assert(t.currentTag.contains("quantA"),
      "compaction must carry the manifest tag through the fold")
    // an explicitly re-tagged commit replaces it
    t.commit(df(3L), 2L, tag = Some("quantB"))
    assert(t.currentTag.contains("quantB"))
    // rebase stamps its own
    t.rebase(df(9L), 3L, tag = Some("quantC"))
    assert(t.currentTag.contains("quantC") && t.segmentsOf("v3") == Seq("seg3"))
    // beforeSwap abort: nothing published, tag and pointer untouched
    intercept[IllegalStateException] {
      t.commit(df(7L), 4L, beforeSwap =
        () => throw new IllegalStateException("validation failed"))
    }: Unit
    assert(VersionedTarget.currentVersion(root).contains("v3") &&
      t.currentTag.contains("quantC") &&
      !Files.exists(root.resolve("seg4")),
      "an aborted commit must publish nothing")
    // ...and the next attempt with the same batch id succeeds cleanly
    t.commit(df(7L), 4L)
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(9L, 7L))
  }

  test("vacuum refuses keepLast < 1 (would delete CURRENT's own version)") {
    val root = Files.createTempDirectory("graft_vt_guard")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    intercept[IllegalArgumentException](t.vacuum(0))
    intercept[IllegalArgumentException](VersionedTarget.Rewrite(root).vacuum(0))
  }

  test("deleteWhere: rewrites ONLY the touched segments — untouched segments " +
      "enter the new manifest BY REFERENCE, content drops exactly the matches, " +
      "epoch unchanged, tag carried, pre-delete reader whole until vacuum") {
    val root = Files.createTempDirectory("graft_vt_del")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L, 2L), 0L, tag = Some("quantA"))
    t.commit(df(10L, 11L), 1L)
    t.commit(df(20L), 2L)
    // the physical fingerprint of the segments the predicate misses
    def files(seg: String) = root.resolve(seg).toFile.listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length(), f.lastModified())).toSeq.sorted
    val (seg0Before, seg2Before) = (files("seg0"), files("seg2"))
    val res = t.deleteWhere(spark, $"id" >= 10L && $"id" < 20L)
    assert(res.isDefined)
    val d = res.get
    // own namespace off the shared maintenance sequence; epoch untouched
    assert(d.version == "v2d1" && d.segment == "seg2d1",
      s"delete must commit in the d-namespace, got $d")
    assert(d.touched == Seq("seg1") && d.reconciled.isEmpty)
    assert(VersionedTarget.currentEpoch(root).contains(2L),
      "a delete must never advance the stream clock")
    assert(t.currentTag.contains("quantA"), "delete must carry the manifest tag")
    // untouched segments by reference: same files, byte-for-byte untouched
    assert(files("seg0") == seg0Before && files("seg2") == seg2Before,
      "an untouched segment was rewritten")
    assert(t.segmentsOf("v2d1") == Seq("seg0", "seg2", "seg2d1"),
      "manifest = untouched survivors in commit order + the rewritten segment")
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 20L))
    // the pre-delete version still reads whole — the auditable grace window
    assert(t.read(spark, "v2").get.count() == 5)
    // vacuum to the post-delete version retires exactly the pre-delete state
    val deleted = t.vacuum(1)
    assert(deleted.toSet == Set("v0", "v1", "v2", "seg1"),
      s"vacuum after delete must retire the replaced segment, got $deleted")
    // ingest continues on top at the next epoch
    t.commit(df(30L), 3L)
    assert(t.segmentsOf("v3") == Seq("seg0", "seg2", "seg2d1", "seg3"))
    assert(t.current(spark).get.count() == 4)
  }

  test("deleteWhere: NULL-predicate rows are KEPT (SQL DELETE semantics); a " +
      "no-match delete is a true no-op — no new version, no debris") {
    val root = Files.createTempDirectory("graft_vt_delnull")
    val t = VersionedTarget.Segmented(root)
    t.commit(Seq((1L, Option("a")), (2L, Option.empty[String]), (3L, Option("b")))
      .toDF("id", "payload"), 0L)
    // pred is NULL on id=2: only the TRUE row (id=1) deletes
    assert(t.deleteWhere(spark, $"payload" === "a").isDefined)
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(2L, 3L), "a NULL predicate row must be kept, not deleted")
    val namesBefore = root.toFile.listFiles().map(_.getName).toSet
    assert(t.deleteWhere(spark, $"id" === 999L).isEmpty,
      "no-match delete must return None")
    val namesAfter = root.toFile.listFiles().map(_.getName).toSet
    assert(namesAfter == namesBefore,
      s"no-match delete left debris: ${namesAfter -- namesBefore}")
    assert(VersionedTarget.currentVersion(root).contains("v0d1"))
  }

  test("deleteWhere: a commit landing DURING the rewrite is RECONCILED into " +
      "the new manifest as-is — the delete is snapshot-scoped, so a matching " +
      "row that arrived mid-pass survives this pass") {
    val root = Files.createTempDirectory("graft_vt_delrace")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    t.commit(df(10L), 1L)
    val res = t.deleteWhere(spark, $"id" >= 10L,
      afterRewrite = (_, _) => t.commit(df(11L), 2L))
    assert(res.isDefined)
    assert(res.get.version == "v2d1",
      "the reconciled commit's epoch names the delete version")
    assert(res.get.touched == Seq("seg1") && res.get.reconciled == Seq("seg2"))
    assert(t.segmentsOf("v2d1") == Seq("seg0", "seg2", "seg1d1"))
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 11L),
      "the mid-pass arrival (even though it matches) must survive this pass")
    // the caller's catch-up pass removes it — re-run until None
    assert(t.deleteWhere(spark, $"id" >= 10L).isDefined)
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L))
    assert(t.deleteWhere(spark, $"id" >= 10L).isEmpty, "drained: no-op")
  }

  test("deleteWhere: a concurrent maintenance pass that retired a touched " +
      "segment forces a clean ABORT — nothing published, no debris") {
    val root = Files.createTempDirectory("graft_vt_delabort")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    t.commit(df(10L), 1L)
    val res = t.deleteWhere(spark, $"id" >= 10L,
      afterRewrite = (_, _) => assert(t.compact(spark).isDefined))
    assert(res.isEmpty, "publishing over the fold would duplicate rows")
    // the compaction (which reserved AFTER the delete) won: shared sequence
    assert(VersionedTarget.currentVersion(root).contains("v1c2"))
    assert(!Files.exists(root.resolve("seg1d1")) &&
      !Files.exists(root.resolve(".inflight-seg1d1")),
      "aborted delete must clean its segment and marker")
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 10L), "aborted delete must not change content")
  }

  test("Rewrite restore: rewinds the pointer to a retained version; undone " +
      "versions become stale-sweepable orphans and their epochs re-committable") {
    val root = Files.createTempDirectory("graft_vt_rwrestore")
    val t = VersionedTarget.Rewrite(root)
    t.commit(df(1L), 0L)
    t.commit(df(1L, 2L), 1L)
    t.commit(df(1L, 2L, 3L), 2L)
    t.restore("v1")
    assert(VersionedTarget.currentVersion(root).contains("v1"))
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L), "restore must republish the old table as-is")
    assert(t.versions == Seq("v0", "v1"), "undone versions drop out of history")
    intercept[IllegalArgumentException](t.restore("v2")): Unit // forward
    intercept[IllegalArgumentException](t.restore("v99")): Unit // unknown
    // the undone v2 is now orphan-shaped: swept only once stale (TTL 0 here)
    val swept = t.vacuum(1, staleTtlMs = 0L)
    assert(swept.toSet == Set("v0", "v2"), s"got $swept")
    assert(t.current(spark).get.count() == 2)
    // the rewound epoch re-commits
    t.commit(df(9L, 10L), 2L)
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(9L, 10L))
  }

  test("deleteWhere: a predicate on an EVOLVED column is answerable across " +
      "pre-evolution segments — their rows read NULL → kept, untouched by " +
      "reference") {
    val root = Files.createTempDirectory("graft_vt_delevo")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L, 2L), 0L) // (id, payload) — no `flagged` column yet
    t.commit(Seq((10L, "row10", true), (11L, "row11", false))
      .toDF("id", "payload", "flagged"), 1L)
    val res = t.deleteWhere(spark, $"flagged" === true)
    assert(res.isDefined && res.get.touched == Seq("seg1"),
      s"only the evolved segment holds TRUE rows, got $res")
    assert(Files.exists(root.resolve("seg0")), "pre-evolution segment stays")
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 11L),
      "NULL-flag rows (pre-evolution) and false-flag rows must survive")
  }

  test("deleteWhere: a DISJOINT concurrent delete that published a newer " +
      "sequence mid-rewrite forces a refusal — CURRENT must never sort older " +
      "than a live manifest (vacuum would sweep it under a reader)") {
    val root = Files.createTempDirectory("graft_vt_deldel")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    t.commit(df(10L), 1L)
    // outer delete touches seg0 only; inside its rewrite window an inner
    // delete touches seg1 only and publishes v1d2 — disjoint touched sets,
    // so the outer's touched check alone would have let v1d1 publish OVER
    // a manifest that sorts newer
    var inner: Option[VersionedTarget.Deleted] = None
    val outer = t.deleteWhere(spark, $"id" === 1L,
      afterRewrite = (_, _) => {
        inner = t.deleteWhere(spark, $"id" === 10L)
      })
    assert(inner.isDefined && inner.get.version == "v1d2", s"got $inner")
    assert(outer.isEmpty, "out-of-order publish must be refused")
    assert(VersionedTarget.currentVersion(root).contains("v1d2"),
      "the inner delete's manifest stays CURRENT")
    assert(!Files.exists(root.resolve("seg1d1")) &&
      !Files.exists(root.resolve(".inflight-seg1d1")),
      "refused delete must clean its segment and marker")
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L), "refusal must not lose the inner delete's effect")
    // the caller's retry against the fresh snapshot succeeds at seq 3
    val retry = t.deleteWhere(spark, $"id" === 1L)
    assert(retry.isDefined && retry.get.version == "v1d3", s"got $retry")
    assert(t.current(spark).get.count() == 0)
  }

  test("appendedSince: feeds exactly the post-cursor stream batches; a fold " +
      "or takedown covering post-cursor epochs fails LOUDLY (resync signal), " +
      "one at-or-below the cursor keeps feeding") {
    val root = Files.createTempDirectory("graft_vt_feed")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    t.commit(df(2L), 1L)
    t.commit(df(3L), 2L)
    def feed(since: Long): Set[Long] =
      t.appendedSince(spark, since).map(_.select($"id").collect()
        .map(_.getLong(0)).toSet).getOrElse(Set.empty)
    assert(feed(0L) == Set(2L, 3L) && feed(1L) == Set(3L))
    assert(t.appendedSince(spark, 2L).isEmpty, "cursor at head: no new data")
    assert(feed(-1L) == Set(1L, 2L, 3L), "a fresh consumer reads everything")
    // fold batches 0..2 into seg2c1: any cursor BELOW 2 is now unanswerable
    // (the fold mixed its batches with older rows) — loud, never silent
    assert(t.compact(spark).isDefined)
    val e = intercept[IllegalStateException] { t.appendedSince(spark, 1L) }
    assert(e.getMessage.contains("resync"), s"got: ${e.getMessage}")
    // ...but a cursor at-or-past the fold's epoch keeps feeding
    t.commit(df(4L), 3L)
    assert(feed(2L) == Set(4L))
    // a takedown's rewritten segment is the same shape: epoch 3 covers the
    // cursor-2 window, so that cursor now signals resync too
    assert(t.deleteWhere(spark, $"id" === 4L).isDefined)
    intercept[IllegalStateException] { t.appendedSince(spark, 2L) }: Unit
    assert(t.appendedSince(spark, 3L).isEmpty,
      "cursor past the takedown epoch: no new stream batches")
  }

  test("appendedSince on a cell-PARTITIONED clustered target (q194's index " +
      "shape): the feed is exactly the post-cursor batches across partition " +
      "dirs, and a fold crossing the cursor raises the resync signal") {
    import org.apache.spark.sql.functions.lit
    val root = Files.createTempDirectory("graft_vt_feed_part")
    val t = VersionedTarget.Segmented(root,
      partitionCols = Seq("cell"), clusterCommits = true)
    def dfp(cellOf: Long => Long, ids: Long*) =
      ids.map(i => (i, s"row$i", cellOf(i))).toDF("id", "payload", "cell")
    t.commit(dfp(_ % 3, 1L, 2L, 3L), 0L)
    t.commit(dfp(_ % 3, 10L, 11L), 1L)
    t.commit(dfp(_ % 3, 20L, 21L), 2L)
    val feed = t.appendedSince(spark, 1L)
      .getOrElse(fail("batch 2 must feed the replica"))
    assert(feed.select($"id").collect().map(_.getLong(0)).toSet == Set(20L, 21L),
      "the partitioned feed must be exactly the post-cursor batch")
    assert(feed.columns.toSet == Set("id", "payload", "cell"),
      "the partition column must ride back in the feed rows")
    assert(feed.filter($"cell" =!= $"id" % lit(3)).count() == 0,
      "partition values must survive the hive-layout round trip")
    // fold across the cursor: loud resync, never silent folded rows
    assert(t.compact(spark).isDefined)
    val e = intercept[IllegalStateException] { t.appendedSince(spark, 1L) }
    assert(e.getMessage.contains("resync"), s"got: ${e.getMessage}")
  }

  test("versions + restore: the manifest history reads oldest→newest across " +
      "all three namespaces; restore rewinds the pointer, vacuum sweeps the " +
      "undone versions, and the undone epoch becomes re-committable") {
    val root = Files.createTempDirectory("graft_vt_travel")
    val t = VersionedTarget.Segmented(root)
    t.commit(df(1L), 0L)
    t.commit(df(2L), 1L)
    assert(t.compact(spark).isDefined) // v1c1
    t.commit(df(3L), 2L)
    assert(t.deleteWhere(spark, $"id" === 1L).isDefined) // v2d2
    assert(t.versions == Seq("v0", "v1", "v1c1", "v2", "v2d2"),
      s"history must totally order stream/compact/delete versions, got ${t.versions}")
    // time travel: every retained version reads its own snapshot
    assert(t.read(spark, "v1c1").get.select($"id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(t.read(spark, "v2d2").get.select($"id").collect()
      .map(_.getLong(0)).toSet == Set(2L, 3L))
    // a crash orphan sorting newer than CURRENT never appears in history
    Files.write(root.resolve("v9"), "seg9".getBytes("UTF-8"))
    assert(!t.versions.contains("v9"))
    Files.delete(root.resolve("v9"))
    // restore: rewind to before the delete and the epoch-2 ingest
    t.restore("v1c1")
    assert(VersionedTarget.currentVersion(root).contains("v1c1"))
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L), "restore must republish the old snapshot as-is")
    assert(t.versions == Seq("v0", "v1", "v1c1"),
      "undone versions must drop out of the history")
    // restoring FORWARD is refused (would publish crash-debris shapes)
    intercept[IllegalArgumentException](t.restore("v2d2")): Unit
    intercept[IllegalArgumentException](t.restore("v99")): Unit
    // vacuum sweeps the undone manifests and retires their segments
    val swept = t.vacuum(1)
    assert(swept.toSet == Set("v0", "v1", "v2", "v2d2", "seg0", "seg1", "seg2", "seg2d2"),
      s"vacuum after restore must sweep the undone versions, got $swept")
    assert(t.current(spark).get.count() == 2, "the restored snapshot stays whole")
    // the stream clock rewound with the pointer: epoch 2 re-commits
    assert(!t.applied(2L))
    t.commit(df(30L), 2L)
    assert(t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 30L))
  }

  test("paired-target rewind (q189's verb): restoring the assignments " +
      "re-pairs the OLD quantizer via the manifest tag — consistent at " +
      "every intermediate point — and vacuum sweeps the undone refit on " +
      "both targets") {
    val aroot = Files.createTempDirectory("graft_vt_pair_a")
    val croot = Files.createTempDirectory("graft_vt_pair_c")
    val assignT = VersionedTarget.Segmented(aroot)
    val centT = VersionedTarget.Rewrite(croot)
    // nightly build: quantizer v0 + tagged base; one append inherits the tag
    centT.commit(df(100L), 0L)
    assignT.commit(df(1L), 0L, tag = Some("v0"))
    assignT.commit(df(2L), 1L)
    assert(assignT.currentTag.contains("v0"))
    // the BAD refit: new quantizer version + rebased base tagged to it
    centT.commit(df(300L), 3L)
    assignT.rebase(df(3L), 3L, Some("v3"))
    assert(assignT.currentTag.contains("v3"))
    def pairedIds(): Set[Long] =
      graft.ops.Similarity.pairedCentroids(spark, assignT, centT)
        .get.select($"id").collect().map(_.getLong(0)).toSet
    assert(pairedIds() == Set(300L))
    // rewind step 1 — assignments: serving is ALREADY consistent (old pair)
    assignT.restore("v1")
    assert(assignT.currentTag.contains("v0"),
      "the restored manifest must carry the tag it was committed with")
    assert(pairedIds() == Set(100L),
      "the assignment restore alone must re-pair the old quantizer")
    assert(assignT.current(spark).get.select($"id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L),
      "the restored assignments must be the pre-refit base + append")
    // rewind step 2 — the quantizer clock; the served pairing is unchanged
    centT.restore("v0")
    assert(pairedIds() == Set(100L))
    // the undone refit is crash-debris-shaped: swept on BOTH targets
    // (the Rewrite side is TTL-guarded against redelivery races — the
    // operator's deliberate post-restore cleanup passes staleTtlMs = 0)
    val sweptA = assignT.vacuum(1)
    val sweptC = centT.vacuum(1, staleTtlMs = 0L)
    assert(sweptA.exists(_.startsWith("v3")),
      s"assignment vacuum must sweep the undone rebase, got $sweptA")
    assert(sweptC.exists(_.startsWith("v3")),
      s"centroid vacuum must sweep the undone quantizer, got $sweptC")
    assert(pairedIds() == Set(100L),
      "sweeping the undone refit must not change the served pairing")
    // the rewound clock accepts the NEXT refit cycle cleanly
    centT.commit(df(400L), 4L)
    assignT.rebase(df(4L), 4L, Some("v4"))
    assert(pairedIds() == Set(400L))
  }

  test("full-system rewind (q201's verb): the REFERRER (index) restores " +
      "BEFORE the REFERENT (corpus), so no index row ever references a " +
      "rewound corpus id at any crash point — and the opposite order " +
      "provably breaks the invariant") {
    val croot = Files.createTempDirectory("graft_vt_sys_c")
    val aroot = Files.createTempDirectory("graft_vt_sys_a")
    val corpusT = VersionedTarget.Segmented(croot)
    val indexT = VersionedTarget.Segmented(aroot)
    // a shared batch-id clock: every wave hits BOTH targets; index rows
    // REFERENCE corpus ids (here: the same id space)
    corpusT.commit(df(1L), 0L); indexT.commit(df(1L), 0L)
    corpusT.commit(df(2L), 1L); indexT.commit(df(2L), 1L) // the good wave
    corpusT.commit(df(3L), 2L); indexT.commit(df(3L), 2L) // the BAD wave
    def ids(t: VersionedTarget.Segmented): Set[Long] =
      t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    def dangling(): Set[Long] = ids(indexT) -- ids(corpusT)
    assert(dangling().isEmpty)
    // WRONG order — corpus first: the crash point between the two
    // restores leaves the index referencing rows the corpus no longer
    // serves (and the next corpus vacuum would delete their bytes)
    corpusT.restore("v1")
    assert(dangling() == Set(3L),
      "corpus-first rewind must strand index references at the crash " +
        "point — this is WHY the verb restores the referrer first")
    indexT.restore("v1") // completing the rewind heals the system
    assert(dangling().isEmpty)
    // re-corrupt, then the RIGHT order — index first: the invariant
    // holds at the very same crash point (bad corpus rows are merely
    // unreferenced until the corpus restore drops them)
    corpusT.commit(df(4L), 3L); indexT.commit(df(4L), 3L)
    assert(ids(indexT) == Set(1L, 2L, 4L))
    indexT.restore("v1")
    assert(dangling().isEmpty,
      "index-first rewind keeps every reference resolvable at the crash point")
    corpusT.restore("v1")
    assert(dangling().isEmpty)
    assert(ids(indexT) == Set(1L, 2L) && ids(corpusT) == Set(1L, 2L),
      "the full-system rewind must land both targets on the good wave")
  }

  test("three-target full-system rewind on the PQ pair (q206's verb): the " +
      "code target restores FIRST and its manifest tag keeps pairing the " +
      "UNMOVED bundle at every crash point; the corpus restores last with " +
      "no reference ever dangling") {
    val croot = Files.createTempDirectory("graft_vt_syspq_c")
    val aroot = Files.createTempDirectory("graft_vt_syspq_a")
    val broot = Files.createTempDirectory("graft_vt_syspq_b")
    val corpusT = VersionedTarget.Segmented(croot)
    val codesT = VersionedTarget.Segmented(aroot)
    val bundleT = VersionedTarget.Rewrite(broot)
    // the quantizer BUNDLE commits once (appends place against the
    // served bundle, never refit) and the base codes tag it
    val bundle = graft.ops.Similarity.pqBundleDF(spark,
      coarse = Seq((0L, Seq(1.0, 0.0))),
      books = Seq(Seq((0L, Seq(1.0)), (1L, Seq(0.0)))))
    bundleT.commit(bundle, 0L)
    corpusT.commit(df(1L), 0L); codesT.commit(df(1L), 0L, tag = Some("v0"))
    corpusT.commit(df(2L), 1L); codesT.commit(df(2L), 1L) // the good wave
    corpusT.commit(df(3L), 2L); codesT.commit(df(3L), 2L) // the BAD wave
    def ids(t: VersionedTarget.Segmented): Set[Long] =
      t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    def dangling(): Set[Long] = ids(codesT) -- ids(corpusT)
    def pairedBundle() =
      graft.ops.Similarity.pairedPqBundle(spark, codesT, bundleT)
    assert(dangling().isEmpty && pairedBundle().isDefined)
    // crash point 1 — codes restored, corpus not yet: every reference
    // still resolves (the bad corpus rows are merely unreferenced) and
    // the inherited tag still pairs the one bundle version
    codesT.restore("v1")
    assert(dangling().isEmpty,
      "referrer-first rewind keeps every code reference resolvable")
    assert(codesT.currentTag.contains("v0"),
      "the restored code manifest must carry the tag it was committed with")
    assert(pairedBundle().exists(_._1 == Seq((0L, Seq(1.0, 0.0)))),
      "the code restore must keep pairing the unmoved bundle")
    // crash point 2 — corpus restored: the system is on the good wave
    corpusT.restore("v1")
    assert(dangling().isEmpty)
    assert(ids(codesT) == Set(1L, 2L) && ids(corpusT) == Set(1L, 2L),
      "the three-target rewind must land codes + corpus on the good wave")
    // sweeping the undone wave (vacuum both Segmented clocks; the bundle
    // has exactly one version and sweeps nothing) changes no pairing
    codesT.vacuum(1): Unit
    corpusT.vacuum(1): Unit
    assert(dangling().isEmpty && pairedBundle().isDefined)
  }

  test("referrer-first DELETE order on the coded target (q207's verb): " +
      "deleting the corpus first strands code references at the crash " +
      "point; deleting the codes first keeps the invariant at every step") {
    val croot = Files.createTempDirectory("graft_vt_delpq_c")
    val aroot = Files.createTempDirectory("graft_vt_delpq_a")
    val corpusT = VersionedTarget.Segmented(croot)
    val codesT = VersionedTarget.Segmented(aroot)
    corpusT.commit(df(1L, 2L, 3L), 0L); codesT.commit(df(1L, 2L, 3L), 0L)
    def ids(t: VersionedTarget.Segmented): Set[Long] =
      t.current(spark).get.select($"id").collect().map(_.getLong(0)).toSet
    def dangling(): Set[Long] = ids(codesT) -- ids(corpusT)
    // WRONG order — corpus first: the crash point between the two
    // deletes leaves the code target referencing erased corpus rows
    // (and the next corpus vacuum physically removes their bytes while
    // the index still serves the id)
    assert(corpusT.deleteWhere(spark, $"id" === 3L).isDefined)
    assert(dangling() == Set(3L),
      "corpus-first delete must strand code references at the crash " +
        "point — this is WHY the takedown deletes the referrer first")
    corpusT.restore("v0") // undo the wrong-order probe
    assert(dangling().isEmpty)
    // RIGHT order — codes first: the id stops being servable before any
    // corpus byte moves, and the invariant holds at the crash point
    assert(codesT.deleteWhere(spark, $"id" === 3L).isDefined)
    assert(dangling().isEmpty,
      "referrer-first delete keeps every reference resolvable at the " +
        "crash point")
    assert(corpusT.deleteWhere(spark, $"id" === 3L).isDefined)
    assert(dangling().isEmpty)
    assert(ids(codesT) == Set(1L, 2L) && ids(corpusT) == Set(1L, 2L),
      "the system-wide takedown must erase the id from both targets")
  }
}
