package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{IngestJob, SnapshotLake}

/** The write-path workload. Set-up exports the base fixture's ingest
  * tables to CSV and creates a SnapshotLake table from `orders` with
  * stats column `o_orderkey`. Each seeded cycle then runs an append, a
  * merge, a copy-on-write delete, a merge-on-read delete, a range read,
  * two range reads, a full-scan aggregate and two time-travel reads (to
  * this cycle's start and the previous one's). Odd cycles add delete
  * rewrite, compaction and expiry. Cycle 0 is the cold round and starts
  * with `IngestJob.run` over the CSV export.
  *
  * The workload keeps its own model of the table (live key → price in
  * cents), so every commit's row counts and every read's count/key-sum/
  * price-sum are checked exactly, and the final table against the
  * model. */
final class LakeWorkload(spark: SparkSession, base: String, work: String,
                         seed: Long) {
  import LakeWorkload._
  private var ctx: Ctx = _
  private def tr = ctx.tracer
  private val root = s"$work/table"
  private val csvDir = s"$work/csv"
  private val rng = new Random(seed)

  private val live = mutable.HashMap[Long, Long]()
  /** (version, model aggregate) at the start of each cycle. */
  private val cycleStart = mutable.ArrayBuffer[(Int, (Long, Long, Long))]()
  private var nextKey = 0L
  private var templates: IndexedSeq[Row] = IndexedSeq.empty
  private var schema: org.apache.spark.sql.types.StructType = _
  private var keyIdx, priceIdx = 0

  /** Rows the append and merge batches carried, and the ops' time. */
  private var rowsCommitted = 0L
  private var commitRowS = 0.0
  /** Pending position deletes and live files seen by each read. */
  val readState = mutable.ArrayBuffer[(String, Int, Long)]()

  /** The ingest job's input: the base fixture's five job1-parity tables
    * as header'd CSV. */
  def exportCsv(): Unit = {
    Host.deleteTree(csvDir)
    Seq("lineitem", "orders", "nation", "region", "supplier").foreach { t =>
      graft.Tables.t(spark, base, t).write.option("header", "true")
        .csv(s"$csvDir/$t.csv")
    }
  }

  /** One repetition of the table set-up: fresh root, fresh model. */
  def setup(): Unit = {
    Host.deleteTree(root)
    val orders = graft.Tables.orders(spark, base)
    SnapshotLake.create(orders, root, statsCol = Some(Key))
    schema = orders.schema
    keyIdx = schema.fieldIndex(Key)
    priceIdx = schema.fieldIndex(Price)
    live.clear()
    orders.select(col(Key), cents(col(Price))).collect()
      .foreach(r => live(r.getLong(0)) = r.getLong(1))
    templates = orders.limit(2000).collect().toIndexedSeq
    nextKey = live.keys.max + 1
  }

  private def cents(c: org.apache.spark.sql.Column) =
    floor(c * 100.0 + 0.5).cast("long")

  private def row(key: Long, cts: Long): Row = {
    val v = templates(rng.nextInt(templates.size)).toSeq.toArray
    v(keyIdx) = key
    v(priceIdx) = cts / 100.0
    Row.fromSeq(v.toSeq)
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def newCents(): Long = 100000L + rng.nextInt(40000000)

  /** (count, key sum, cents sum) of the model's rows with keys in range. */
  private def modelAgg(lo: Long = Long.MinValue,
                       hi: Long = Long.MaxValue): (Long, Long, Long) = {
    var n, k, c = 0L
    live.foreach { case (key, cts) =>
      if (key >= lo && key <= hi) { n += 1; k += key; c += cts }
    }
    (n, k, c)
  }

  private def tableAgg(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col(Key)), lit(0L)),
      coalesce(sum(cents(col(Price))), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def sortedKeys: Array[Long] = live.keysIterator.toArray.sorted

  /** A key range holding about `width` live rows, seeded. */
  private def keyRange(width: Int): (Long, Long) = {
    val ks = sortedKeys
    val i = rng.nextInt(math.max(1, ks.length - width))
    (ks(i), ks(math.min(ks.length - 1, i + width - 1)))
  }

  private def noteReadState(kind: String): Unit =
    if (tr.isInstanceOf[SpanTracer]) {
      val s = SnapshotLake.snapshot(root, SnapshotLake.mainVersion(root))
      readState += ((kind, s.files.size, s.deletes.map(_.rows).sum))
    }

  private def read(kind: String, round: Int, expect: (Long, Long, Long))
                  (open: => DataFrame): Unit = {
    noteReadState(kind)
    var got = (-1L, -1L, -1L)
    ctx.timed(kind, "SnapshotLake", round) {
      val df = tr.frame(tr.span(s"SnapshotLake.$kind", Plan)(open))
      got = tr.span("exec.aggregate", Exec)(tableAgg(df))
    }
    ctx.check(s"$kind in cycle $round: got $got, model $expect", got == expect)
  }

  private def commit[T](kind: String, round: Int, rows: Int = 0)
                       (call: => T): Option[T] = {
    var out: Option[T] = None
    val dt = ctx.timed(kind, "SnapshotLake", round) {
      out = Some(tr.span(s"SnapshotLake.$kind", Exec)(call))
    }
    if (rows > 0 && out.nonEmpty) { rowsCommitted += rows; commitRowS += dt }
    out
  }

  private def ingest(round: Int): Unit = {
    var ok = false
    ctx.timed("ingest", "IngestJob", round) {
      val reports = tr.span("IngestJob.run", Exec) {
        IngestJob.run(spark, IngestJob.harnessManifest(csvDir), Db)
      }
      ok = reports.size == 5 && reports.forall(_.ok)
    }
    ctx.check(s"ingest in cycle $round", ok &&
      spark.table(s"$Db.orders_w").count() ==
        graft.Tables.orders(spark, base).count())
  }

  private def cycle(c: Int): Unit = {
    val maintenance = c % 2 == 1
    if (c == 0) ingest(c)
    val vStart = SnapshotLake.mainVersion(root)
    cycleStart += ((vStart, modelAgg()))

    val appendRows = (0 until AppendRows).map { i =>
      val k = nextKey + i
      (k, newCents())
    }
    nextKey += AppendRows
    val appendDf = frame(appendRows.map { case (k, p) => row(k, p) })
    commit("append", c, AppendRows)(SnapshotLake.append(spark, appendDf, root))
      .foreach(_ => appendRows.foreach { case (k, p) => live(k) = p })

    val ks = sortedKeys
    val updKeys = rng.shuffle(ks.toSeq).take(MergeUpdates)
    val insKeys = (0 until MergeInserts).map(nextKey + _)
    nextKey += MergeInserts
    val mergeRows = (updKeys ++ insKeys).map(k => (k, newCents()))
    val mergeDf = frame(mergeRows.map { case (k, p) => row(k, p) })
    commit("merge", c, mergeRows.size)(
      SnapshotLake.merge(spark, root, mergeDf, Key)).foreach {
      case (_, nUpd, nIns) =>
        ctx.check(s"merge counts in cycle $c: ($nUpd, $nIns)",
          nUpd == updKeys.size && nIns == insKeys.size)
        mergeRows.foreach { case (k, p) => live(k) = p }
    }

    def delete(kind: String)(call: org.apache.spark.sql.Column => (Int, Long)): Unit = {
      val (lo, hi) = keyRange(DeleteWidth)
      val expect = modelAgg(lo, hi)._1
      commit(kind, c)(call(col(Key).between(lo, hi))).foreach { case (_, n) =>
        ctx.check(s"$kind rows in cycle $c: $n, model $expect", n == expect)
        live.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(live.remove)
      }
    }
    delete("delete_cow")(SnapshotLake.deleteWhere(spark, root, _))
    delete("delete_mor")(SnapshotLake.deleteWhereMor(spark, root, _))

    for (_ <- 1 to 2) {
      val (lo, hi) = keyRange(RangeWidth)
      read("read_range", c, modelAgg(lo, hi))(
        SnapshotLake.readRange(spark, root, lo, hi))
    }
    read("read_full", c, modelAgg())(SnapshotLake.read(spark, root))
    // this cycle's start and the previous one's (expiry keeps both)
    cycleStart.takeRight(2).foreach { case (v, agg) =>
      read("read_time_travel", c, agg)(SnapshotLake.readAt(spark, root, v))
    }

    if (maintenance) {
      commit("rewrite_deletes", c)(SnapshotLake.rewritePositionDeletes(spark, root))
      commit("compact", c)(SnapshotLake.compact(spark, root, ctx.cores))
      commit("expire", c)(SnapshotLake.expire(root, vStart))
    }
  }

  def run(c: Ctx, warmCycles: Int): Unit = {
    ctx = c
    ctx.rounds(warmCycles)(cycle)
    val got = tableAgg(SnapshotLake.read(spark, root))
    ctx.check(s"final table: got $got, model ${modelAgg()}", got == modelAgg())
  }

  /** Traced runs: live files and pending position-delete rows as the
    * reads saw them, averaged over the reads. */
  private def readStats: Map[String, Any] =
    if (readState.isEmpty) Map.empty
    else Map(
      "files_live" -> Stats.metric(readState.map(_._2.toDouble).sum / readState.size, "count"),
      "deletes_pending" ->
        Stats.metric(readState.map(_._3.toDouble).sum / readState.size, "rows"))

  /** Lake figures: ingest, commit and read latency, commit
    * throughput and space amplification. */
  def detail(): Map[String, Any] = {
    val warm = ctx.warm
    val commits = warm.filter(s => CommitKinds(s.kind)).map(_.seconds)
    val reads = warm.filter(_.kind.startsWith("read_")).map(_.seconds)
    val ingests = ctx.samples.toSeq.filter(s => s.kind == "ingest" && s.ok)
    val liveOnce = s"$work/live_once"
    Host.deleteTree(liveOnce)
    SnapshotLake.read(spark, root).coalesce(1).write.parquet(liveOnce)
    val spaceAmp = Host.treeBytes(root).toDouble / Host.treeBytes(liveOnce)
    Map(
      "ingest_s" -> Stats.metric(
        ingests.headOption.map(_.seconds).getOrElse(Double.NaN), "s"),
      "rows_committed_per_s" -> Stats.metric(rowsCommitted / commitRowS, "rows/s"),
      "space_amp" -> Stats.metric(spaceAmp, "ratio"),
      "cycles" -> ctx.roundWalls.size,
      "live_rows" -> live.size) ++ readStats ++
      Stats.latency("commit", commits) ++ Stats.latency("read", reads)
  }
}

object LakeWorkload {
  val Key = "o_orderkey"
  val Price = "o_totalprice"
  val Db = "perfbench"
  val AppendRows = 1000
  val MergeUpdates = 150
  val MergeInserts = 50
  val DeleteWidth = 40
  val RangeWidth = 1000
  val CommitKinds = Set("append", "merge", "delete_cow", "delete_mor",
    "rewrite_deletes", "compact", "expire")
}
