package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.SnapshotLake

/** Snapshot-lake semantics: time travel, copy-on-write granularity,
  * rollback, expiry, commit conflicts, schema evolution — the Iceberg
  * table-format behaviors re-expressed over plain parquet + manifests. */
class SnapshotLakeSpec extends SparkTestBase {

  private def freshRoot(name: String): String = {
    val p = Paths.get("/tmp/graft-snap-spec", name)
    SnapshotLake.deleteRecursively(p)
    Files.createDirectories(p.getParent)
    p.toString
  }

  /** Spark jobs `body` starts, counted by a listener between two marker
    * jobs: the bus delivers events in order, so seeing the end marker
    * means every job `body` started has been counted. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.marker"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val counting = new java.util.concurrent.atomic.AtomicBoolean
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("begin") => counting.set(true)
          case Some("end") => counting.set(false); done.countDown()
          case _ => if (counting.get) n.incrementAndGet()
        }
    }
    def marker(m: String): Unit = {
      sc.setLocalProperty(key, m)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(l)
    try {
      marker("begin")
      val out = body
      marker("end")
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def df(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "kind", "v").repartition(2)
  }

  test("create/append/time-travel: every snapshot stays reconstructible") {
    val root = freshRoot("basic")
    SnapshotLake.create(df((1L, "a", 10L), (2L, "b", 20L)), root)
    SnapshotLake.append(spark, df((3L, "a", 30L)), root)
    assert(SnapshotLake.currentVersion(root) == 2)
    assert(SnapshotLake.readAt(spark, root, 1).count() == 2)
    assert(SnapshotLake.readAt(spark, root, 2).count() == 3)
    val ids = SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L))
  }

  test("deleteWhere is copy-on-write at file granularity: untouched files keep identity") {
    val root = freshRoot("cow")
    SnapshotLake.create(df((1L, "keep", 1L), (2L, "keep", 2L)), root)
    SnapshotLake.append(spark, df((3L, "drop", 3L), (4L, "keep", 4L)), root)
    val v2Files = SnapshotLake.snapshot(root, 2).paths
    val v1Files = SnapshotLake.snapshot(root, 1).paths
    val fingerprint = v1Files.map { f =>
      val p = Paths.get(root, f)
      (f, Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }
    val (v3, nDel) = SnapshotLake.deleteWhere(spark, root, col("kind") === "drop")
    assert(v3 == 3 && nDel == 1)
    val v3Files = SnapshotLake.snapshot(root, 3).paths
    // v1's files (no 'drop' rows) carry over byte-identical; the appended
    // files containing the hit are replaced
    v1Files.foreach(f => assert(v3Files.contains(f)))
    fingerprint.foreach { case (f, size, mtime) =>
      val p = Paths.get(root, f)
      assert(Files.size(p) == size &&
        Files.getLastModifiedTime(p).toMillis == mtime,
        s"untouched file $f was rewritten")
    }
    assert(v3Files.intersect(v2Files.diff(v1Files)).isEmpty ||
      SnapshotLake.readAt(spark, root, 3)
        .filter(col("kind") === "drop").count() == 0)
    // old snapshot still sees the deleted row
    assert(SnapshotLake.readAt(spark, root, 2)
      .filter(col("kind") === "drop").count() == 1)
  }

  test("merge updates matched keys, inserts the rest, rewrites only hit files") {
    val root = freshRoot("merge")
    SnapshotLake.create(df((1L, "a", 10L), (2L, "b", 20L)), root)
    SnapshotLake.append(spark, df((3L, "c", 30L)), root)
    val v1Files = SnapshotLake.snapshot(root, 1).paths
    val (v, nUpd, nIns) = SnapshotLake.merge(spark, root,
      df((3L, "c2", 33L), (9L, "new", 90L)), "id")
    assert(v == 3 && nUpd == 1 && nIns == 1)
    val got = SnapshotLake.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c2", 33L),
      (9L, "new", 90L)))
    // only the file(s) holding id=3 were replaced
    val v3Files = SnapshotLake.snapshot(root, 3).paths
    v1Files.foreach(f => assert(v3Files.contains(f)))
    // pre-merge state intact
    assert(SnapshotLake.readAt(spark, root, 2)
      .filter(col("id") === 3 && col("kind") === "c").count() == 1)
  }

  test("rollback is O(1): new snapshot pins the old file list") {
    val root = freshRoot("rollback")
    SnapshotLake.create(df((1L, "a", 1L)), root)
    SnapshotLake.append(spark, df((2L, "b", 2L)), root)
    SnapshotLake.deleteWhere(spark, root, col("id") === 1)
    val v4 = SnapshotLake.rollback(root, 2)
    assert(v4 == 4)
    // SET equality: with segment-reuse manifests the rollback commit
    // references the head's surviving segments first and batches the
    // re-exposed files into its delta segment, so list ORDER may differ
    // from the target's — the pinned CONTENT (and O(1) no-restage
    // behavior) is the contract, file order never was
    assert(SnapshotLake.snapshot(root, 4).paths.toSet ==
      SnapshotLake.snapshot(root, 2).paths.toSet)
    assert(SnapshotLake.read(spark, root).count() == 2)
    // the rolled-over delete stays readable for audit
    assert(SnapshotLake.readAt(spark, root, 3).count() == 1)
  }

  test("expire reclaims files referenced only by dropped snapshots") {
    val root = freshRoot("expire")
    SnapshotLake.create(df((1L, "a", 1L)), root)
    SnapshotLake.append(spark, df((2L, "b", 2L)), root)
    // v3 rewrites everything (delete hits both files)
    SnapshotLake.deleteWhere(spark, root, col("v") >= 0)
    val deadFiles = SnapshotLake.snapshot(root, 2).paths
    val (nManifests, nFiles) = SnapshotLake.expire(root, keepFrom = 3)
    assert(nManifests == 2)
    assert(nFiles == deadFiles.size)
    deadFiles.foreach(f => assert(!Files.exists(Paths.get(root, f))))
    intercept[IllegalArgumentException] {
      SnapshotLake.readAt(spark, root, 1)
    }
    // current still reads (empty after the full delete, schema preserved)
    assert(SnapshotLake.read(spark, root).count() == 0)
    assert(SnapshotLake.read(spark, root).schema.fieldNames
      .sameElements(Array("id", "kind", "v")))
  }

  test("expire leaves an IN-FLIGHT segment (version beyond published) " +
    "for the concurrent commit that staged it; lost-race orphans at or " +
    "below the published version still reclaim") {
    val root = freshRoot("segrace")
    SnapshotLake.create(df((1L, "a", 1L)), root)
    SnapshotLake.append(spark, df((2L, "b", 2L)), root)
    val meta = Paths.get(root, "meta")
    // a concurrent commit claiming v3 has moved its segment into meta/
    // but not yet published v3.manifest — expire must NOT delete it
    val inflight = meta.resolve("v3-deadbeef.seg")
    Files.writeString(inflight, "file=data/v3-pending.parquet|1||\n")
    // a LOSER of an earlier race: its v2 segment was never referenced
    // by any published manifest — reclaimable
    val orphan = meta.resolve("v2-cafef00d.seg")
    Files.writeString(orphan, "file=data/v2-lost.parquet|1||\n")
    SnapshotLake.expire(root, keepFrom = 1)
    assert(Files.exists(inflight),
      "in-flight segment (version > published) must survive expire")
    assert(!Files.exists(orphan),
      "lost-race orphan at a published version must be reclaimed")
  }

  test("expiry lab: v1/v3 manifests dropped, tag-pinned v2 and its shared " +
    "files survive the reclaim sweep") {
    val root = SnapshotLake.ensureExpireLab(spark, sfDir)
    def manifest(v: Int) = Paths.get(root, "meta", s"v$v.manifest")
    Seq(1, 3).foreach(v => assert(!Files.exists(manifest(v)),
      s"v$v is below the floor and unpinned — manifest must be gone"))
    Seq(2, 4, 5).foreach(v => assert(Files.exists(manifest(v)),
      s"v$v is retained (floor or tag) — manifest must survive"))
    // v2's data files are v1's files plus the append batch; v1's manifest
    // is gone but its FILES are shared with pinned v2 — all must remain
    SnapshotLake.snapshot(root, 2).paths.foreach(f =>
      assert(Files.exists(Paths.get(root, f)), s"shared file $f reclaimed"))
    // and the tag read agrees with v2's manifest accounting
    assert(SnapshotLake.readRef(spark, root, "repro").count() ==
      SnapshotLake.snapshot(root, 2).nRows)
  }

  test("commit conflict: a concurrently published version loses atomically") {
    val root = freshRoot("conflict")
    SnapshotLake.create(df((1L, "a", 1L)), root)
    // both writers read current=1; the racer publishes v2 first, then the
    // loser tries to publish ITS v2 — the atomic manifest move must fail
    // and leave the racer's commit untouched
    Files.writeString(Paths.get(root, "meta", "v2.manifest"),
      "version=2\nop=racer\nnRows=1\nschema=`id` BIGINT\n")
    intercept[IllegalStateException] {
      SnapshotLake.commit(root, prev = 1, op = "loser", nRows = 9,
        schemaDdl = "`id` BIGINT", statsCol = None,
        files = Seq(SnapshotLake.FileEntry("data/bogus.parquet", 1, None, None)))
    }
    assert(SnapshotLake.snapshot(root, 2).op == "racer")
    assert(SnapshotLake.snapshot(root, 2).files.isEmpty)
  }

  test("schema evolution: appended column reads as null for old rows, old snapshots keep shape") {
    import spark.implicits._
    val root = freshRoot("evolve")
    SnapshotLake.create(df((1L, "a", 1L)), root)
    val wide = Seq((2L, "b", 2L, "en")).toDF("id", "kind", "v", "lang")
    SnapshotLake.append(spark, wide, root)
    val cur = SnapshotLake.read(spark, root)
    assert(cur.schema.fieldNames.contains("lang"))
    assert(cur.filter(col("id") === 1)
      .select("lang").collect().head.isNullAt(0))
    assert(!SnapshotLake.readAt(spark, root, 1)
      .schema.fieldNames.contains("lang"))
  }

  test("readRange skips files from manifest stats alone") {
    import spark.implicits._
    val root = freshRoot("skipping")
    // two commits with disjoint id ranges → disjoint manifest stats
    SnapshotLake.create(
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1),
      root, statsCol = Some("id"))
    SnapshotLake.append(spark,
      (100L until 200L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1),
      root)
    val snap = SnapshotLake.snapshot(root, 2)
    assert(snap.files.forall(f => f.min.isDefined && f.max.isDefined))
    // metadata-only pruning: the low range keeps only v1's file(s)
    val pruned = SnapshotLake.pruneEntries(snap, 150, 199)
    assert(pruned.nonEmpty && pruned.forall(_.path.startsWith("data/v2-")),
      s"pruning kept ${pruned.map(_.path)} — v1 files should be skipped")
    // row-exact result, and the scan actually read only the pruned files
    val got = SnapshotLake.readRange(spark, root, 150, 199)
    assert(got.count() == 50)
    val readFiles = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(readFiles.forall(_.contains("v2-")),
      s"scan touched skipped files: $readFiles")
  }

  test("null-count stats: IS NULL / IS NOT NULL predicates skip files " +
    "by manifest alone, lossy-never, serde round-trips") {
    import spark.implicits._
    val root = freshRoot("nullskip")
    // f1: v fully populated; f2: v ALL null — so the two nullability
    // predicates prune OPPOSITE files and neither can be answered by
    // min/max ranges at all
    SnapshotLake.create(
      (0L until 100L).map(i => (i, java.lang.Long.valueOf(1000L - i)))
        .toDF("id", "v").coalesce(1),
      root, statsCol = Some("id,v"))
    SnapshotLake.append(spark,
      (100L until 200L).map(i => (i, null: java.lang.Long))
        .toDF("id", "v").coalesce(1),
      root)
    val snap = SnapshotLake.snapshot(root, 2)
    // every entry carries a KNOWN null count per declared stats column
    assert(snap.files.forall(f => f.nulls.size == 2 && f.nulls.forall(_.isDefined)),
      s"null counts missing: ${snap.files.map(_.nulls)}")
    // metadata-only pruning on column v (idx 1)
    val wantNull = SnapshotLake.pruneEntriesNull(snap, 1, wantNull = true)
    assert(wantNull.nonEmpty && wantNull.forall(_.path.startsWith("data/v2-")),
      s"IS NULL pruning kept ${wantNull.map(_.path)}")
    val wantVal = SnapshotLake.pruneEntriesNull(snap, 1, wantNull = false)
    assert(wantVal.nonEmpty && wantVal.forall(_.path.startsWith("data/v1-")),
      s"IS NOT NULL pruning kept ${wantVal.map(_.path)}")
    // row-exact scans that actually open only the surviving files
    val gotNull = SnapshotLake.readIsNull(spark, root, "v", wantNull = true)
    assert(gotNull.count() == 100)
    val nullFiles = gotNull.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(nullFiles.forall(_.contains("v2-")),
      s"IS NULL scan touched skipped files: $nullFiles")
    val gotVal = SnapshotLake.readIsNull(spark, root, "v", wantNull = false)
    assert(gotVal.count() == 100)
    val valFiles = gotVal.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(valFiles.forall(_.contains("v1-")),
      s"IS NOT NULL scan touched skipped files: $valFiles")
    // an undeclared column refuses rather than silently full-scanning
    intercept[IllegalArgumentException] {
      SnapshotLake.readIsNull(spark, root, "id2", wantNull = true)
    }
    // manifest serde round-trip keeps the null counts intact
    val reparsed = SnapshotLake.snapshot(root, 2)
    assert(reparsed.files.map(_.nulls) == snap.files.map(_.nulls))
  }

  test("multi-column stats: readRangeOn skips on the SECONDARY column, " +
    "primary pruning and compact disjointness untouched") {
    import spark.implicits._
    val root = freshRoot("skipping2")
    // ids ascend across commits while v DESCENDS — so primary (id) and
    // secondary (v) stats prune OPPOSITE files and neither can stand in
    // for the other
    SnapshotLake.create(
      (0L until 100L).map(i => (i, s"r$i", 1000L - i)).toDF("id", "kind", "v")
        .coalesce(1),
      root, statsCol = Some("id,v"))
    SnapshotLake.append(spark,
      (100L until 200L).map(i => (i, s"r$i", 1000L - i))
        .toDF("id", "kind", "v").coalesce(1),
      root)
    val snap = SnapshotLake.snapshot(root, 2)
    // every file carries BOTH pairs in the manifest
    assert(snap.files.forall(f => f.min.isDefined && f.max.isDefined))
    assert(snap.files.forall(f =>
      f.more.size == 1 && f.more.head._1.isDefined))
    // v ∈ [801, 900) lives only in v2's file (ids 100..199 → v 801..900)
    val prunedV = SnapshotLake.pruneEntriesOn(snap, 1, 801, 900)
    assert(prunedV.nonEmpty && prunedV.forall(_.path.startsWith("data/v2-")),
      s"secondary pruning kept ${prunedV.map(_.path)}")
    // primary pruning on the same snapshot still works (ids 0..99 → v1)
    val prunedId = SnapshotLake.pruneEntries(snap, 0, 99)
    assert(prunedId.nonEmpty &&
      prunedId.forall(_.path.startsWith("data/v1-")))
    // row-exact scan through the named-column API, only v2 files read
    val got = SnapshotLake.readRangeOn(spark, root, "v", 801, 900)
    assert(got.count() == 100)
    val readFiles = got.select(input_file_name()).distinct()
      .collect().map(_.getString(0)).toSet
    assert(readFiles.forall(_.contains("v2-")),
      s"scan touched skipped files: $readFiles")
    // an undeclared column refuses rather than silently full-scanning
    intercept[IllegalArgumentException] {
      SnapshotLake.readRangeOn(spark, root, "kind", 0, 1)
    }
    // manifest round-trip: serialized entries re-parse with `more` intact
    val reparsed = SnapshotLake.snapshot(root, 2)
    assert(reparsed.files.map(_.more) == snap.files.map(_.more))
    // compact range-arranges on the PRIMARY column of the list
    val (vc, _, after) = SnapshotLake.compact(spark, root, targetParts = 2)
    val ranges = SnapshotLake.snapshot(root, vc).files
      .map(f => (f.min.get, f.max.get)).sorted
    assert(after == 2 && ranges.head._2 < ranges(1)._1, s"ranges $ranges")
    assert(SnapshotLake.read(spark, root).count() == 200)
  }

  test("hour partition transform: appended files lay out one per clock " +
    "hour and prune on the hour value") {
    import spark.implicits._
    val root = freshRoot("hourlab")
    val ts0 = java.sql.Timestamp.valueOf("2024-03-01 10:15:00")
    val rows = (0L until 40L).map { i =>
      (i, new java.sql.Timestamp(ts0.getTime + i * 10 * 60 * 1000L)) // 10-min steps → 7 hours
    }
    SnapshotLake.create(rows.take(1).toDF("id", "ts"), root)
    SnapshotLake.evolvePartitionSpec(root, "hour", "ts")
    SnapshotLake.append(spark, rows.drop(1).toDF("id", "ts"), root)
    val snap = SnapshotLake.snapshot(root, SnapshotLake.mainVersion(root))
    val hourVals = snap.partInfo.values.filter(_._1 == snap.defaultSpec)
      .map(_._2).toSet
    assert(hourVals.contains("2024-03-01-10") &&
      hourVals.contains("2024-03-01-16"), s"got $hourVals")
    // pruning: reading one hour touches exactly that hour's file(s)
    val one = SnapshotLake.readPartition(spark, root, "2024-03-01-12")
    assert(one.count() == 6) // 12:05..12:55
    val pruned = SnapshotLake.prunePartition(snap, "2024-03-01-12")
    // the pre-evolution v1 file (no spec) is kept; hour files prune
    assert(pruned.size < snap.files.size)
  }

  test("addedSince reads exactly the appended rows, refuses COW history") {
    val root = freshRoot("incremental")
    SnapshotLake.create(df((1L, "a", 1L)), root)
    SnapshotLake.append(spark, df((2L, "b", 2L)), root)
    SnapshotLake.append(spark, df((3L, "c", 3L)), root)
    val sinceV1 = SnapshotLake.addedSince(spark, root, 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sinceV1 == Set(2L, 3L))
    val sinceV2 = SnapshotLake.addedSince(spark, root, 2)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sinceV2 == Set(3L))
    // a COW delete breaks the file-set ≡ row-delta equivalence — loud stop
    SnapshotLake.deleteWhere(spark, root, col("id") === 1)
    intercept[IllegalArgumentException] {
      SnapshotLake.addedSince(spark, root, 1).collect()
    }
  }

  test("compact merges small files, keeps content and time travel, tightens stats") {
    import spark.implicits._
    val root = freshRoot("compact")
    SnapshotLake.create(
      (0L until 40L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1),
      root, statsCol = Some("id"))
    SnapshotLake.append(spark,
      (40L until 80L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1), root)
    SnapshotLake.append(spark,
      (80L until 120L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1), root)
    val before = SnapshotLake.snapshot(root, 3)
    assert(before.files.size == 3)
    val (v, nBefore, nAfter) = SnapshotLake.compact(spark, root, targetParts = 2)
    assert(v == 4 && nBefore == 3 && nAfter == 2)
    // content identical, pre-compact snapshot untouched
    assert(SnapshotLake.read(spark, root).count() == 120)
    assert(SnapshotLake.readAt(spark, root, 3).count() == 120)
    assert(SnapshotLake.snapshot(root, 3).paths == before.paths)
    // range-partitioned rewrite → disjoint stats ranges (skipping survives)
    val entries = SnapshotLake.snapshot(root, 4).files.sortBy(_.min)
    assert(entries.forall(e => e.min.isDefined && e.max.isDefined))
    entries.sliding(2).foreach {
      case Seq(a, b) => assert(a.max.get < b.min.get,
        s"compacted files overlap: $a vs $b")
      case _ =>
    }
    // and expire now reclaims the fragmented originals
    val (_, nFiles) = SnapshotLake.expire(root, keepFrom = 4)
    assert(nFiles == 3)
    assert(SnapshotLake.read(spark, root).count() == 120)
  }

  test("appendBatchOnce: replayed batch ids commit exactly once") {
    val root = freshRoot("exactly-once")
    SnapshotLake.create(df((1L, "a", 1L)), root)
    assert(SnapshotLake.appendBatchOnce(df((2L, "b", 2L)), root, batchId = 0))
    // restart window: the same batch id replays — must be a no-op
    assert(!SnapshotLake.appendBatchOnce(df((2L, "b", 2L)), root, batchId = 0))
    assert(SnapshotLake.read(spark, root).count() == 2)
    assert(SnapshotLake.currentVersion(root) == 2)
    assert(SnapshotLake.appendBatchOnce(df((3L, "c", 3L)), root, batchId = 1))
    assert(SnapshotLake.read(spark, root).count() == 3)
    // batch appends stay a valid incremental feed
    val added = SnapshotLake.addedSince(spark, root, 1)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(added == Set(2L, 3L))
  }

  test("streamingSink lands one versioned commit per micro-batch") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("stream-sink")
    SnapshotLake.create(df((1L, "seed", 1L)), root)
    val mem = MemoryStream[(Long, String, Long)]
    // checkpoint lives INSIDE the fresh root — a stale checkpoint from a
    // prior run would resume offsets a brand-new MemoryStream doesn't have
    val q = SnapshotLake.streamingSink(
      mem.toDF.toDF("id", "kind", "v"), root,
      s"$root/.ckpt")
    try {
      mem.addData((2L, "b", 2L))
      q.processAllAvailable()
      mem.addData((3L, "c", 3L))
      q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // one snapshot per micro-batch, each tagged with its batch id
    val ops = SnapshotLake.history(spark, root)
      .orderBy("version").collect().map(_.getString(1)).toSeq
    assert(ops.head == "create" && ops.tail.forall(_.startsWith("append[batch=")))
    assert(ops.size >= 3)
  }

  test("history lists every snapshot with its op and row count") {
    val root = freshRoot("history")
    SnapshotLake.create(df((1L, "a", 1L), (2L, "b", 2L)), root)
    SnapshotLake.append(spark, df((3L, "c", 3L)), root)
    SnapshotLake.deleteWhere(spark, root, col("id") === 1)
    val h = SnapshotLake.history(spark, root).orderBy("version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(h.toSeq == Seq((1, "create", 2L), (2, "append", 3L),
      (3, "delete", 2L)))
    // manifest nRows is arithmetic; confirm it matches an actual read
    assert(SnapshotLake.read(spark, root).count() == 2)
  }

  private def md5s(root: String, rels: Seq[String]): Map[String, String] =
    rels.map { f =>
      val bytes = Files.readAllBytes(Paths.get(root, f))
      f -> java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
    }.toMap

  test("deleteWhereMor: data files stay byte-identical, readers subtract positions") {
    val root = freshRoot("mor")
    SnapshotLake.create(df((1L, "keep", 1L), (2L, "drop", 2L)), root)
    SnapshotLake.append(spark, df((3L, "drop", 3L), (4L, "keep", 4L)), root)
    val v2 = SnapshotLake.snapshot(root, 2)
    val before = md5s(root, v2.paths)
    val (v3, nDel) = SnapshotLake.deleteWhereMor(spark, root,
      col("kind") === "drop")
    assert(v3 == 3 && nDel == 2)
    val snap3 = SnapshotLake.snapshot(root, 3)
    // the MOR contract: EVERY data file (hit ones included) carries over
    // byte-identical; the commit only added a delete file
    assert(snap3.paths == v2.paths)
    assert(md5s(root, snap3.paths) == before, "a data file was rewritten")
    assert(snap3.deletes.nonEmpty &&
      snap3.deletes.forall(_.path.contains("-del-")))
    assert(snap3.nRows == 2)
    // read-time subtraction, exact
    assert(SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 4L))
    // time travel to the pre-delete snapshot still sees the rows
    assert(SnapshotLake.readAt(spark, root, 2).count() == 4)
    // re-deleting the same predicate is a no-op (positions computed
    // against the VISIBLE state — no duplicate tombstones)
    assert(SnapshotLake.deleteWhereMor(spark, root,
      col("kind") === "drop") == (3, 0L))
    // appends carry the pending deletes forward
    SnapshotLake.append(spark, df((5L, "keep", 5L)), root)
    assert(SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 4L, 5L))
    assert(SnapshotLake.snapshot(root, 4).deletes == snap3.deletes)
  }

  test("deleteWhereMorEq: no data file touched, keyed rows hidden, later appends out-sequence the delete") {
    import spark.implicits._
    val root = freshRoot("eqmor")
    SnapshotLake.create(df((1L, "a", 1L), (2L, "b", 2L)), root)
    SnapshotLake.append(spark, df((3L, "a", 3L), (4L, "c", 4L)), root)
    val v2 = SnapshotLake.snapshot(root, 2)
    val before = md5s(root, v2.paths)
    val (v3, n) = SnapshotLake.deleteWhereMorEq(spark, root,
      Seq("a").toDF("kind"))
    assert(v3 == 3 && n == 2)
    val snap3 = SnapshotLake.snapshot(root, 3)
    assert(snap3.paths == v2.paths)
    assert(md5s(root, snap3.paths) == before, "a data file was rewritten")
    assert(snap3.eqDeletes.nonEmpty &&
      snap3.eqDeletes.head.keyCols == Seq("kind") &&
      snap3.eqDeletes.head.version == 3)
    assert(snap3.nRows == 2)
    assert(SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L, 4L))
    // time travel: pre-delete snapshot still sees the keyed rows
    assert(SnapshotLake.readAt(spark, root, 2).count() == 4)
    // the sequence rule: a row with the DELETED key appended AFTER the
    // delete is visible (its file's version exceeds the delete's)
    SnapshotLake.append(spark, df((5L, "a", 5L)), root)
    assert(SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L, 4L, 5L))
    // a no-hit equality delete is a no-op commit
    assert(SnapshotLake.deleteWhereMorEq(spark, root,
      Seq("zzz").toDF("kind"))._2 == 0L)
    // expire accounting pins the eq-delete file (allPaths)
    assert(SnapshotLake.snapshot(root, 4).allPaths
      .exists(_.contains("-eqdel-")))
  }

  test("changes: manifest-diff changelog recovers inserts and MOR deletes, refuses COW") {
    import spark.implicits._
    val root = freshRoot("cdc")
    SnapshotLake.create(df((1L, "a", 1L), (2L, "b", 2L)), root)      // v1
    SnapshotLake.append(spark, df((3L, "a", 3L)), root)              // v2
    SnapshotLake.deleteWhereMor(spark, root, col("id") === 1L)       // v3
    SnapshotLake.deleteWhereMorEq(spark, root, Seq("a").toDF("kind")) // v4
    val ch = SnapshotLake.changes(spark, root, 1, 4)
      .select("id", "_change_type", "_commit_version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(ch == Set(
      (3L, "insert", 2),   // v2 append
      (1L, "delete", 3),   // v3 position delete
      (3L, "delete", 4)))  // v4 equality delete hits only the VISIBLE 'a'
    // a COW commit inside the range is refused, not over-reported
    SnapshotLake.deleteWhere(spark, root, col("id") === 2L)          // v5
    val e = intercept[RuntimeException](
      SnapshotLake.changes(spark, root, 1, 5).collect())
    assert(e.getMessage.contains("non-incremental"))
    // ...but the incremental prefix still reads fine
    assert(SnapshotLake.changes(spark, root, 3, 4).count() == 1)
  }

  test("rewritePositionDeletes: folds tombstones in, carries untouched files, content identical") {
    import spark.implicits._
    val root = freshRoot("mor-rewrite")
    // two single-file commits with disjoint ranges: the MOR delete hits
    // only the first file, so the second must carry through the rewrite
    SnapshotLake.create(
      (0L until 50L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1),
      root, statsCol = Some("id"))
    SnapshotLake.append(spark,
      (50L until 100L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1),
      root)
    val (_, nDel) = SnapshotLake.deleteWhereMor(spark, root, col("id") < 10L)
    assert(nDel == 10)
    val snap3 = SnapshotLake.snapshot(root, 3)
    val untouched = snap3.files.filter(_.min.exists(_ >= 50L)).map(_.path)
    assert(untouched.nonEmpty)
    val beforeUntouched = md5s(root, untouched)
    val (v4, nRewritten) = SnapshotLake.rewritePositionDeletes(spark, root)
    assert(v4 == 4 && nRewritten == 1, "only the delete-referenced file rewrites")
    val snap4 = SnapshotLake.snapshot(root, 4)
    assert(snap4.deletes.isEmpty, "rewrite must leave a delete-free snapshot")
    assert(snap4.nRows == 90)
    untouched.foreach(f => assert(snap4.paths.contains(f)))
    assert(md5s(root, untouched) == beforeUntouched)
    assert(SnapshotLake.read(spark, root).count() == 90)
    assert(SnapshotLake.read(spark, root).filter(col("id") < 10L).count() == 0)
    // the MOR snapshot is still time-travelable until expired
    assert(SnapshotLake.readAt(spark, root, 3).count() == 90)
    assert(SnapshotLake.readAt(spark, root, 2).count() == 100)
    // expire past it reclaims the delete file
    val delPath = snap3.deletes.head.path
    assert(Files.exists(Paths.get(root, delPath)))
    SnapshotLake.expire(root, keepFrom = 4)
    assert(!Files.exists(Paths.get(root, delPath)),
      "expired delete file must be reclaimed")
    assert(SnapshotLake.read(spark, root).count() == 90)
  }

  test("COW ops materialize pending MOR deletes and leave a delete-free snapshot") {
    val root = freshRoot("mor-cow")
    SnapshotLake.create(df((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)), root)
    SnapshotLake.deleteWhereMor(spark, root, col("id") === 1L)
    // COW delete of a different row: must ALSO fold the pending tombstone
    val (v3, nDel) = SnapshotLake.deleteWhere(spark, root, col("id") === 2L)
    assert(v3 == 3 && nDel == 1)
    val snap3 = SnapshotLake.snapshot(root, 3)
    assert(snap3.deletes.isEmpty)
    assert(SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet == Set(3L))
    assert(snap3.nRows == 1)
    // merge on a table with pending deletes behaves the same
    val root2 = freshRoot("mor-merge")
    SnapshotLake.create(df((1L, "a", 1L), (2L, "b", 2L)), root2)
    SnapshotLake.deleteWhereMor(spark, root2, col("id") === 1L)
    val (_, nUpd, nIns) = SnapshotLake.merge(spark, root2,
      df((2L, "b2", 22L), (5L, "new", 50L)), "id")
    assert(nUpd == 1 && nIns == 1)
    assert(SnapshotLake.snapshot(root2, 3).deletes.isEmpty)
    val got = SnapshotLake.read(spark, root2).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((2L, "b2"), (5L, "new")))
  }

  test("id-based rename: metadata-only, old files read under the new name, old snapshots keep theirs") {
    val root = freshRoot("rename")
    SnapshotLake.create(df((1L, "a", 10L), (2L, "b", 20L)), root,
      columnIds = true)
    SnapshotLake.append(spark, df((3L, "c", 30L)), root)
    val v2 = SnapshotLake.snapshot(root, 2)
    val before = md5s(root, v2.paths)
    val v3 = SnapshotLake.renameColumn(root, "kind", "category")
    assert(v3 == 3)
    // metadata-only: exact same files, byte-identical
    assert(SnapshotLake.snapshot(root, 3).paths == v2.paths)
    assert(md5s(root, v2.paths) == before)
    // data written under the OLD name surfaces under the new one (id
    // resolution, not name matching)
    val cur = SnapshotLake.read(spark, root)
    assert(cur.schema.fieldNames.toSeq == Seq("id", "category", "v"))
    assert(cur.orderBy("id").select("category").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // time travel to a pre-rename snapshot shows the old shape
    assert(SnapshotLake.readAt(spark, root, 2)
      .schema.fieldNames.toSeq == Seq("id", "kind", "v"))
    // the rename SURVIVES compaction: rewritten files carry the new
    // name + the same field id, content identical
    val (v4, _, _) = SnapshotLake.compact(spark, root, targetParts = 1)
    val compacted = SnapshotLake.read(spark, root)
    assert(v4 == 4 &&
      compacted.schema.fieldNames.toSeq == Seq("id", "category", "v"))
    assert(compacted.orderBy("id").select("category").collect()
      .map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // and the pre-rename snapshot STILL reads with its old name
    assert(SnapshotLake.readAt(spark, root, 2)
      .schema.fieldNames.toSeq == Seq("id", "kind", "v"))
  }

  test("id-based drop: never resurfaces — a re-added name is a fresh all-null column") {
    import spark.implicits._
    val root = freshRoot("drop-readd")
    SnapshotLake.create(df((1L, "secret1", 1L), (2L, "secret2", 2L)), root,
      columnIds = true)
    val v2 = SnapshotLake.dropColumn(root, "kind")
    assert(v2 == 2)
    assert(SnapshotLake.read(spark, root)
      .schema.fieldNames.toSeq == Seq("id", "v"))
    // the dropped data is still in the files — old snapshots see it
    assert(SnapshotLake.readAt(spark, root, 1)
      .select("kind").collect().map(_.getString(0)).toSet ==
      Set("secret1", "secret2"))
    // re-add the SAME name via an appended batch: new field id, so the
    // old files' 'kind' bytes must NOT resurface under it
    val wide = Seq((3L, 3L, "fresh")).toDF("id", "v", "kind")
    SnapshotLake.append(spark, wide, root)
    val cur = SnapshotLake.read(spark, root).orderBy("id")
    val kinds = cur.select("kind").collect()
      .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(kinds == Seq(null, null, "fresh"),
      s"dropped column data resurfaced: $kinds")
    // distinct ids: the re-added column's id is fresh
    val cols = SnapshotLake.snapshot(root, 3).cols
    assert(cols.map(_.id).distinct.size == cols.size)
    assert(cols.find(_.name == "kind").get.id > 3)
  }

  test("id-based rename of the stats column keeps file skipping working") {
    import spark.implicits._
    val root = freshRoot("rename-stats")
    SnapshotLake.create(
      (0L until 100L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1),
      root, statsCol = Some("id"), columnIds = true)
    SnapshotLake.append(spark,
      (100L until 200L).map(i => (i, s"r$i")).toDF("id", "kind").coalesce(1),
      root)
    SnapshotLake.renameColumn(root, "id", "doc_id")
    assert(SnapshotLake.snapshot(root, 3).statsCol.contains("doc_id"))
    val got = SnapshotLake.readRange(spark, root, 150, 199)
    assert(got.count() == 50)
    assert(got.schema.fieldNames.contains("doc_id"))
    // MOR delete composes with the renamed id-based table
    val (_, nDel) = SnapshotLake.deleteWhereMor(spark, root,
      col("doc_id") < 10L)
    assert(nDel == 10)
    assert(SnapshotLake.read(spark, root).count() == 190)
  }

  test("write-audit-publish: failed audit leaves the table bit-identical") {
    val root = freshRoot("wap")
    SnapshotLake.create(df((1L, "a", 10L), (2L, "b", 20L)), root)
    val before = SnapshotLake.snapshot(root, 1)
    val dataFiles = {
      val s = Files.list(Paths.get(root, "data"))
      try { val r = s.iterator(); val b = Seq.newBuilder[String]
        while (r.hasNext) b += r.next().getFileName.toString; b.result().toSet
      } finally s.close()
    }
    // audit: no negative v values allowed — the bad batch has one
    val audit = (d: org.apache.spark.sql.DataFrame) => {
      val bad = d.filter(col("v") < 0L).count()
      if (bad > 0) Seq(s"$bad rows with negative v") else Seq.empty
    }
    val rejected = SnapshotLake.writeAuditPublish(spark, root,
      df((3L, "c", -5L)), audit)
    assert(rejected.isLeft, "negative batch must be rejected")
    assert(SnapshotLake.currentVersion(root) == 1, "no new snapshot")
    // staged files were cleaned up — data/ is exactly as before
    val after = {
      val s = Files.list(Paths.get(root, "data"))
      try { val r = s.iterator(); val b = Seq.newBuilder[String]
        while (r.hasNext) b += r.next().getFileName.toString; b.result().toSet
      } finally s.close()
    }
    assert(after == dataFiles, "staged files must be removed on reject")
    assert(SnapshotLake.read(spark, root).count() == before.nRows)
    // a clean batch publishes normally and is readable
    val ok = SnapshotLake.writeAuditPublish(spark, root,
      df((3L, "c", 30L)), audit)
    assert(ok == Right(2))
    assert(SnapshotLake.read(spark, root).count() == 3)
    assert(SnapshotLake.snapshot(root, 2).op == "append[wap]")
  }

  test("branch commits are invisible to main until fast-forward") {
    val root = freshRoot("branch-ff")
    SnapshotLake.create(df((1L, "a", 10L)), root)
    SnapshotLake.createBranch(root, "audit")
    val bv = SnapshotLake.appendToBranch(spark, df((2L, "b", 20L)), root,
      "audit")
    assert(bv == 2)
    // main still reads the fork point; the branch sees its commit
    assert(SnapshotLake.read(spark, root).count() == 1)
    assert(SnapshotLake.mainVersion(root) == 1)
    assert(SnapshotLake.readRef(spark, root, "audit").count() == 2)
    // lineage recorded explicitly
    assert(SnapshotLake.snapshot(root, 2).parent == 1)
    // branch-WAP publish: audit passed -> fast-forward, O(1) metadata
    assert(SnapshotLake.fastForward(root, "audit") == 2)
    assert(SnapshotLake.read(spark, root).count() == 2)
    // main's next commit builds on the published head
    SnapshotLake.append(spark, df((3L, "c", 30L)), root)
    assert(SnapshotLake.mainVersion(root) == 3)
    assert(SnapshotLake.snapshot(root, 3).parent == 2)
  }

  test("fast-forward refuses a diverged main; main stays isolated from the branch") {
    val root = freshRoot("branch-diverge")
    SnapshotLake.create(df((1L, "a", 10L)), root)
    SnapshotLake.createBranch(root, "wip")
    SnapshotLake.appendToBranch(spark, df((2L, "b", 20L)), root, "wip")
    // main advances independently — claims the next GLOBAL number with
    // parent = its own head, not the branch snapshot
    val mv = SnapshotLake.append(spark, df((9L, "z", 90L)), root)
    assert(mv == 3 && SnapshotLake.snapshot(root, 3).parent == 1)
    assert(SnapshotLake.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 9L), "no branch rows on main")
    val e = intercept[IllegalArgumentException](
      SnapshotLake.fastForward(root, "wip"))
    assert(e.getMessage.contains("does not descend"))
  }

  test("tags are immutable pins that expire retains") {
    val root = freshRoot("tags")
    SnapshotLake.create(df((1L, "a", 10L)), root)
    SnapshotLake.append(spark, df((2L, "b", 20L)), root)
    SnapshotLake.createTag(root, "rel1", 1)
    SnapshotLake.append(spark, df((3L, "c", 30L)), root)
    // tags cannot move or take branch writes
    intercept[IllegalArgumentException](
      SnapshotLake.appendToBranch(spark, df((4L, "d", 40L)), root, "rel1"))
    intercept[IllegalStateException](SnapshotLake.createTag(root, "rel1", 2))
    // expire keeps the tagged v1 (and its files) while dropping v2
    val (droppedM, _) = SnapshotLake.expire(root, keepFrom = 3)
    assert(droppedM == 1, "only the untagged v2 manifest drops")
    assert(SnapshotLake.readAt(spark, root, 1).count() == 1,
      "tag-pinned snapshot must stay readable")
    intercept[IllegalArgumentException](SnapshotLake.readAt(spark, root, 2))
    // dropping the tag releases the pin for the next expire
    assert(SnapshotLake.dropRef(root, "rel1"))
    val (droppedM2, _) = SnapshotLake.expire(root, keepFrom = 3)
    assert(droppedM2 == 1)
    assert(SnapshotLake.listRefs(root).isEmpty)
  }

  test("rebase replays an append-only diverged branch; fast-forward then publishes") {
    val root = freshRoot("branch-rebase")
    SnapshotLake.create(df((1L, "a", 10L)), root)
    SnapshotLake.createBranch(root, "wip")
    SnapshotLake.appendToBranch(spark, df((2L, "b", 20L)), root, "wip")
    SnapshotLake.append(spark, df((3L, "c", 30L)), root) // main diverges
    intercept[IllegalArgumentException](SnapshotLake.fastForward(root, "wip"))
    val rv = SnapshotLake.rebaseBranch(root, "wip")
    assert(SnapshotLake.refVersion(root, "wip") == rv)
    assert(SnapshotLake.snapshot(root, rv).parent == SnapshotLake.mainVersion(root))
    // data files were reused, not rewritten: the rebased snapshot pins
    // the union of main's files and the branch's added file
    assert(SnapshotLake.snapshot(root, rv).paths.toSet ==
      (SnapshotLake.snapshot(root, 3).paths ++
        SnapshotLake.snapshot(root, 2).paths).toSet)
    assert(SnapshotLake.fastForward(root, "wip") == rv)
    assert(SnapshotLake.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // a COW branch op does NOT commute and must refuse to rebase
    SnapshotLake.createBranch(root, "del")
    SnapshotLake.append(spark, df((4L, "d", 40L)), root)
    // (simulate a non-append branch commit by branching then deleting on
    // main-state via the branch head path: deleteWhere only works on
    // main, so fork a branch at the pre-delete head and advance main
    // with a delete — the rebase guard checks the BRANCH segment, so
    // append to the branch and verify main's delete doesn't block it)
    SnapshotLake.appendToBranch(spark, df((5L, "e", 50L)), root, "del")
    SnapshotLake.deleteWhere(spark, root, col("kind") === "c")
    val rv2 = SnapshotLake.rebaseBranch(root, "del")
    assert(SnapshotLake.fastForward(root, "del") == rv2)
    val ids = SnapshotLake.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 4L, 5L), s"post-rebase state: $ids")
  }

  test("rebase keeps a column the branch added in the replayed schema") {
    import spark.implicits._
    val root = freshRoot("branch-rebase-evolve")
    SnapshotLake.create(df((1L, "a", 10L)), root)
    SnapshotLake.createBranch(root, "wide")
    SnapshotLake.appendToBranch(spark,
      Seq((2L, "b", 20L, "en")).toDF("id", "kind", "v", "lang"), root, "wide")
    SnapshotLake.append(spark, df((3L, "c", 30L)), root) // main diverges
    SnapshotLake.rebaseBranch(root, "wide")
    SnapshotLake.fastForward(root, "wide")
    val got = SnapshotLake.read(spark, root).orderBy("id")
      .select("id", "lang").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq == Seq((1L, null), (2L, "en"), (3L, null)))
  }

  test("interleaved branch and main staging never collide on file names") {
    val root = freshRoot("branch-files")
    SnapshotLake.create(df((1L, "a", 10L)), root)
    SnapshotLake.createBranch(root, "b1")
    // both stage "after v1": without per-stage nonces these would both
    // name files data/v2-* and the second would overwrite the first
    SnapshotLake.appendToBranch(spark, df((2L, "b", 20L)), root, "b1")
    SnapshotLake.append(spark, df((3L, "c", 30L)), root)
    val branchRows = SnapshotLake.readRef(spark, root, "b1")
      .select("id").collect().map(_.getLong(0)).toSet
    val mainRows = SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(branchRows == Set(1L, 2L) && mainRows == Set(1L, 3L))
    // the base file is legitimately shared; the two NEWLY STAGED files
    // must be distinct names (and all rows above proved distinct content)
    val base = SnapshotLake.snapshot(root, 1).paths.toSet
    val staged2 = SnapshotLake.snapshot(root, 2).paths.filterNot(base)
    val staged3 = SnapshotLake.snapshot(root, 3).paths.filterNot(base)
    assert(staged2.nonEmpty && staged3.nonEmpty)
    assert(staged2.toSet.intersect(staged3.toSet).isEmpty,
      s"file-name collision: $staged2 vs $staged3")
  }

  test("partition evolution: metadata-only evolve, forward-only layout, " +
    "exact pruning with old-era fall-through") {
    val root = freshRoot("partevo")
    SnapshotLake.create(df((1L, "a", 1L), (2L, "b", 2L), (3L, "a", 3L)), root)
    val v1Files = SnapshotLake.snapshot(root, 1).paths
    // evolve commits touch no data: same file set, byte-identical
    val sizes = v1Files.map(f => f -> Files.size(Paths.get(root, f))).toMap
    SnapshotLake.evolvePartitionSpec(root, "identity", "kind")
    val s2 = SnapshotLake.snapshot(root, 2)
    assert(s2.paths == v1Files, "evolve must not restage files")
    v1Files.foreach(f =>
      assert(Files.size(Paths.get(root, f)) == sizes(f), s"$f rewritten"))
    assert(s2.defaultSpec == 1 && s2.specs.map(_.describe)
      == Seq("identity(kind)"))
    // append under the spec: every staged file records (spec, value),
    // one value per file
    SnapshotLake.append(spark,
      df((4L, "a", 4L), (5L, "b", 5L), (6L, "c", 6L)), root)
    val s3 = SnapshotLake.snapshot(root, 3)
    val staged = s3.paths.filterNot(v1Files.toSet)
    assert(staged.nonEmpty &&
      staged.forall(p => s3.partInfo.get(p).exists(_._1 == 1)),
      s"staged files missing partition info: ${s3.partInfo}")
    assert(staged.map(p => s3.partInfo(p)._2).sorted == Seq("a", "b", "c"))
    // pruning keeps ALL pre-spec files (can't prune) + only matching new
    val kept = SnapshotLake.prunePartition(s3, "a").map(_.path)
    assert(v1Files.forall(kept.contains), "old-era files must fall through")
    assert(kept.toSet.intersect(staged.toSet)
      == staged.filter(p => s3.partInfo(p)._2 == "a").toSet)
    // the pruned read is row-exact across both eras
    val got = SnapshotLake.readPartition(spark, root, "a")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 4L), s"got $got")
    // a second evolution: old spec's files stop pruning (different spec
    // id), new appends adopt the new transform
    SnapshotLake.evolvePartitionSpec(root, "mod", "id", 2)
    SnapshotLake.append(spark, df((7L, "a", 7L), (8L, "b", 8L)), root)
    val s5 = SnapshotLake.snapshot(root, 5)
    assert(s5.defaultSpec == 2 && s5.specs.size == 2)
    val even = SnapshotLake.readPartition(spark, root, "0")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(even == Set(2L, 4L, 6L, 8L), s"got $even")
    val keptMod = SnapshotLake.prunePartition(s5, "0").map(_.path).toSet
    // kind-era files fall through (spec 1 ≠ default 2); of the two new
    // mod-files only the even one survives pruning
    val modStaged = s5.paths.filterNot(s3.paths.toSet)
    assert(modStaged.count(keptMod) == 1,
      s"mod-era pruning kept ${modStaged.filter(keptMod)}")
    // spec metadata survives an unrelated COW commit; restaged files
    // merely drop out of partInfo (lossy-never direction)
    SnapshotLake.deleteWhere(spark, root, col("id") === 7L)
    val s6 = SnapshotLake.snapshot(root, 6)
    assert(s6.specs.size == 2 && s6.defaultSpec == 2,
      "COW commit lost the partition specs")
    assert(SnapshotLake.readPartition(spark, root, "0")
      .count() == 4, "partition read wrong after COW delete")
    // compaction migrates every era into the CURRENT spec: afterwards
    // ALL files carry (spec 2, value) info, pruning goes exact
    // everywhere, and content is unchanged
    SnapshotLake.compact(spark, root)
    val s7 = SnapshotLake.snapshot(root, SnapshotLake.mainVersion(root))
    assert(s7.paths.forall(p => s7.partInfo.get(p).exists(_._1 == 2)),
      s"compaction left files outside the current spec: ${s7.partInfo}")
    val keptAfter = SnapshotLake.prunePartition(s7, "0")
    assert(keptAfter.forall(f => s7.partInfo(f.path)._2 == "0"),
      "post-compaction pruning must be exact (no fall-through files)")
    assert(SnapshotLake.readPartition(spark, root, "0")
      .select("id").collect().map(_.getLong(0)).toSet
      == Set(2L, 4L, 6L, 8L))
  }

  test("partition evolution: date and truncate transforms prune exactly " +
    "across eras and compact migrates them") {
    import spark.implicits._
    def edf(rows: (Long, String)*) = rows.toDF("id", "tss")
      .select(col("id"), col("tss").cast("timestamp").as("ts"))
      .repartition(2)
    val root = freshRoot("partdate")
    SnapshotLake.create(edf(
      (1L, "2024-01-01 10:00:00"), (2L, "2024-02-03 11:00:00")), root)
    SnapshotLake.evolvePartitionSpec(root, "day", "ts")
    SnapshotLake.append(spark, edf(
      (3L, "2024-01-01 23:00:00"), (4L, "2024-03-05 00:30:00")), root)
    def ids(r: String, v: String) = SnapshotLake.readPartition(spark, r, v)
      .select("id").collect().map(_.getLong(0)).toSet
    // id 3 prunes in via its day file; id 1 falls through the pre-spec
    // era and survives the residual — lossy-never across eras
    assert(ids(root, "2024-01-01") == Set(1L, 3L))
    SnapshotLake.evolvePartitionSpec(root, "month", "ts")
    SnapshotLake.append(spark, edf((5L, "2024-01-15 09:00:00")), root)
    assert(ids(root, "2024-01") == Set(1L, 3L, 5L))
    // compaction migrates every era into month(ts): pruning goes exact
    SnapshotLake.compact(spark, root)
    val s = SnapshotLake.snapshot(root, SnapshotLake.mainVersion(root))
    val monthSpec = s.specs.find(_.describe == "month(ts)").get.id
    assert(s.paths.forall(p => s.partInfo.get(p).exists(_._1 == monthSpec)))
    assert(SnapshotLake.prunePartition(s, "2024-01")
      .forall(f => s.partInfo(f.path)._2 == "2024-01"))
    assert(ids(root, "2024-01") == Set(1L, 3L, 5L))
    // truncate(w, stringCol): prefix layout + residual on old eras
    val r2 = freshRoot("parttrunc")
    SnapshotLake.create(df((1L, "alpha", 1L), (2L, "beta", 2L)), r2)
    SnapshotLake.evolvePartitionSpec(r2, "truncate", "kind", 3)
    SnapshotLake.append(spark, df((3L, "alps", 3L), (4L, "beat", 4L)), r2)
    assert(ids(r2, "alp") == Set(1L, 3L) && ids(r2, "bet") == Set(2L)
      && ids(r2, "bea") == Set(4L))
  }

  test("manifest segmentation: a commit writes O(batch) metadata, " +
    "unchanged segments are reused by reference, expire sweeps dead ones") {
    val root = freshRoot("segments")
    SnapshotLake.create(df((0L, "s", 0L)), root)
    val appends = 12
    (1 to appends).foreach(i =>
      SnapshotLake.append(spark, df((i.toLong, "s", i.toLong)), root))
    val cur = SnapshotLake.mainVersion(root)
    val manifest = Files.readString(Paths.get(root, "meta", s"v$cur.manifest"))
    // the manifest is a LIST of segment references, not the file list
    assert(!manifest.linesIterator.exists(_.startsWith("file=")),
      "manifest must not inline the file list")
    val segNames = manifest.linesIterator.filter(_.startsWith("segment="))
      .map(_.drop(8)).toSeq
    assert(segNames.size == appends + 1, s"got ${segNames.size} segments")
    // measured O(batch): the last commit's new segment holds ONE file
    // entry; the full live list is 13× that — at 10⁶ files the gap is 10⁶×
    val lastSegBytes = Files.size(Paths.get(root, "meta", segNames.last))
    val fullListBytes = SnapshotLake.snapshot(root, cur).files
      .map(_.serialized.length + "file=\n".length).sum
    assert(lastSegBytes * 3 < fullListBytes,
      s"last segment $lastSegBytes B vs full list $fullListBytes B — " +
        "commit metadata is not O(batch)")
    // unchanged segments carried over BY REFERENCE from the parent
    val prevSegs = Files.readString(
        Paths.get(root, "meta", s"v${cur - 1}.manifest"))
      .linesIterator.filter(_.startsWith("segment=")).map(_.drop(8)).toSeq
    assert(prevSegs.forall(segNames.contains),
      "parent segments must be reused, not rewritten")
    // every snapshot in the chain stays exactly reconstructible
    (1 to cur).foreach(v =>
      assert(SnapshotLake.readAt(spark, root, v).count() == v.toLong))
    // a full rewrite invalidates every old segment; expire then reclaims
    // them (they are referenced only by dropped manifests) but keeps the
    // live one
    SnapshotLake.compact(spark, root)
    SnapshotLake.expire(root, SnapshotLake.mainVersion(root))
    val segsLeft = {
      val s = Files.list(Paths.get(root, "meta"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".seg")).toSeq
      finally s.close()
    }
    assert(segsLeft.size == 1, s"dead segments not swept: $segsLeft")
    assert(SnapshotLake.read(spark, root).count() == appends + 1)
  }

  test("compactSmall bin-packs only sub-threshold files: the big file " +
    "keeps byte identity, debris packs, re-run is a no-op") {
    val root = freshRoot("binpack")
    SnapshotLake.create(df(
      (0 until 10).map(i => (i.toLong, "big", i.toLong)): _*)
      .repartition(1), root)
    (1 to 3).foreach(k =>
      SnapshotLake.append(spark,
        df((100L + k, "tiny", k.toLong)).repartition(1), root))
    val before = SnapshotLake.snapshot(root, SnapshotLake.mainVersion(root))
    val bigFile = before.files.maxBy(_.rows)
    val bigSize = Files.size(Paths.get(root, bigFile.path))
    val (v, packedIn, packedOut) = SnapshotLake.compactSmall(spark, root, 5L)
    assert(packedIn == 3 && packedOut == 1, s"packed $packedIn -> $packedOut")
    val after = SnapshotLake.snapshot(root, v)
    // the big file survives by IDENTITY (same path, same bytes) — the
    // O(debris)-not-O(table) property
    assert(after.paths.contains(bigFile.path))
    assert(Files.size(Paths.get(root, bigFile.path)) == bigSize)
    assert(after.files.size == 2)
    // content exactly preserved
    assert(SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
      == ((0 until 10).map(_.toLong) ++ Seq(101L, 102L, 103L)).toSet)
    // nothing left under the threshold → no commit
    val cur = SnapshotLake.mainVersion(root)
    val (v2, in2, out2) = SnapshotLake.compactSmall(spark, root, 5L)
    assert(v2 == cur && in2 <= 1 && out2 == 0,
      "re-running binpack with no debris must not commit")
    assert(SnapshotLake.mainVersion(root) == cur)
  }

  test("partition values round-trip through path escaping: '+', '%', " +
    "space and '=' never corrupt partInfo or prune live files") {
    // Spark's Hive-style path escaping percent-encodes '%', '=', ' '
    // etc. but leaves '+' literal; a URLDecoder-based decode turns that
    // literal '+' into a space, so prunePartition would silently drop
    // the only file holding "a+b" rows — the lossy-never violation this
    // test pins (ADVICE round 7).
    val root = freshRoot("escape")
    val tricky = Seq("a+b", "50%", "x y", "k=v", "plain")
    SnapshotLake.create(df(
      tricky.zipWithIndex.map { case (k, i) => (i.toLong, k, i.toLong) }: _*),
      root)
    SnapshotLake.evolvePartitionSpec(root, "identity", "kind")
    SnapshotLake.append(spark, df(
      tricky.zipWithIndex.map { case (k, i) =>
        (10L + i, k, 10L + i) }: _*), root)
    val s = SnapshotLake.snapshot(root, SnapshotLake.mainVersion(root))
    // every staged value decoded back to EXACTLY the raw string
    val recorded = s.partInfo.values.map(_._2).toSet
    assert(recorded == tricky.toSet,
      s"partition values corrupted by path decoding: $recorded")
    // and each pruned read returns precisely its two rows (one per era)
    tricky.zipWithIndex.foreach { case (k, i) =>
      val got = SnapshotLake.readPartition(spark, root, k)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == Set(i.toLong, 10L + i), s"value '$k': got $got")
    }
  }

  test("COW and MOR delete agree when the predicate is NULL: the row stays") {
    import spark.implicits._
    val rows = Seq[(Long, Option[Long])]((1L, Some(1L)), (2L, None),
      (3L, Some(9L)), (4L, None), (5L, Some(7L)), (6L, Some(2L)))
    // one file holding both hit and NULL rows, so the COW rewrite sees both
    def table(name: String): String = {
      val root = freshRoot(name)
      SnapshotLake.create(rows.toDF("id", "v").coalesce(1), root)
      root
    }
    val (cow, mor) = (table("null-cow"), table("null-mor"))
    val cond = col("v") > 5L
    val (_, nCow) = SnapshotLake.deleteWhere(spark, cow, cond)
    val (_, nMor) = SnapshotLake.deleteWhereMor(spark, mor, cond)
    assert(nCow == 2 && nMor == 2)
    def visible(root: String) = SnapshotLake.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(visible(cow) == Set(1L, 2L, 4L, 6L))
    assert(visible(mor) == visible(cow))
    assert(SnapshotLake.snapshot(cow, 2).nRows == 4 &&
      SnapshotLake.snapshot(mor, 2).nRows == 4)
  }

  test("job guard: reads start no job before the first action; COW " +
    "commits stay within their measured job count") {
    val root = freshRoot("jobs")
    SnapshotLake.create(df((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)),
      root, statsCol = Some("id"))
    SnapshotLake.append(spark, df((4L, "d", 4L), (5L, "e", 5L)), root)
    SnapshotLake.deleteWhereMor(spark, root, col("id") === 2L)
    assert(SnapshotLake.snapshot(root, 3).deletes.nonEmpty)
    Seq[(String, () => DataFrame)](
      "read" -> (() => SnapshotLake.read(spark, root)),
      "readRange" -> (() => SnapshotLake.readRange(spark, root, 1L, 4L)),
      "readAt" -> (() => SnapshotLake.readAt(spark, root, 3))
    ).foreach { case (name, open) =>
      val (frame, jobs) = jobsOf(open())
      assert(jobs == 0, s"$name started $jobs jobs while building its frame")
      assert(frame.count() > 0)
    }
    val (_, mergeJobs) = jobsOf(SnapshotLake.merge(spark, root,
      df((3L, "c2", 33L), (9L, "new", 90L)), "id"))
    SnapshotLake.deleteWhereMor(spark, root, col("id") === 4L)
    val (_, deleteJobs) = jobsOf(
      SnapshotLake.deleteWhere(spark, root, col("id") === 5L))
    // measured on this suite's session (local[8], AQE on): merge 9, delete
    // 5 — down from 29 and 18 when every open inferred its schema and each
    // commit ran separate count/collect/isEmpty actions
    assert(mergeJobs <= 9, s"merge started $mergeJobs jobs")
    assert(deleteJobs <= 5, s"deleteWhere started $deleteJobs jobs")
    assert(SnapshotLake.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 9L))
  }

  test("the manifest schema matches a mergeSchema read of every " +
    "snapshot's files: names, types, order and rows") {
    import spark.implicits._
    val root = freshRoot("schema-eq")
    SnapshotLake.create(df((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)),
      root, statsCol = Some("id"))
    SnapshotLake.append(spark,
      Seq((4L, "d", 40L, "x"), (5L, "e", 50L, "y")).toDF("id", "kind", "v", "extra"),
      root)
    SnapshotLake.merge(spark, root,
      Seq[(Long, String, Long, String, Option[Int])]((2L, "b2", 21L, "z", Some(7)),
        (6L, "f", 60L, null, None)).toDF("id", "kind", "v", "extra", "tag"),
      "id")
    SnapshotLake.deleteWhere(spark, root, col("id") === 1L)
    SnapshotLake.deleteWhereMor(spark, root, col("id") === 4L)
    SnapshotLake.rewritePositionDeletes(spark, root)
    SnapshotLake.deleteWhereMor(spark, root, col("id") === 5L)
    SnapshotLake.compact(spark, root)
    SnapshotLake.rollback(root, 3)
    val last = SnapshotLake.currentVersion(root)
    assert(last == 9)
    def paths(fs: Seq[SnapshotLake.FileEntry]) =
      fs.map(f => Paths.get(root, f.path).toString)
    /** The footer-merged read of v's files, minus its position deletes. */
    def mergedRead(v: Int): DataFrame = {
      val s = SnapshotLake.snapshot(root, v)
      val raw = spark.read.option("mergeSchema", "true").parquet(paths(s.files): _*)
      if (s.deletes.isEmpty) raw
      else {
        val dels = spark.read.parquet(paths(s.deletes): _*)
        raw.withColumn("_df", element_at(split(col("_metadata.file_path"), "/"), -1))
          .withColumn("_pos", col("_metadata.row_index"))
          .join(dels, col("_df") === dels("df") && col("_pos") === dels("pos"),
            "left_anti")
          .drop("_df", "_pos")
      }
    }
    def digest(d: DataFrame): Seq[String] =
      d.select(to_json(struct(col("*")))).collect().map(_.getString(0)).sorted.toSeq
    (1 to last).foreach { v =>
      val explicit = SnapshotLake.readAt(spark, root, v)
      val merged = mergedRead(v)
      def shape(d: DataFrame) = d.schema.fields.toSeq
        .map(f => (f.name, f.dataType, f.nullable))
      assert(shape(explicit) == shape(merged), s"v$v schema")
      assert(digest(explicit) == digest(merged), s"v$v rows")
    }
    // the history covers both evolution commits
    assert(SnapshotLake.read(spark, root).columns.toSeq ==
      Seq("id", "kind", "v", "extra", "tag"))
  }
}
