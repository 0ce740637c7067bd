package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.operators.{Breadth, Curation, Dedup, JoinsPlus, TextAnalysis}

/** Scale-shape and semantics assertions for the curation operators — the
  * properties the row oracle cannot check: what shuffles, how window
  * partitions are bounded, and that single-pass claims are really one scan.
  */
class CurationSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private def executed(df: DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(executed(df)) { case e: ShuffleExchangeExec => e }

  test("pii redaction is scan-local: shuffles carry aggregates, never text") {
    val ex = exchanges(Curation.piiRedact(spark, sfDir))
    assert(ex.nonEmpty)
    ex.foreach { e =>
      val banned = e.output.map(_.name).filter(n => n == "text" || n == "redacted")
      assert(banned.isEmpty, s"shuffle carries document text: $banned")
    }
  }

  test("domain mix hits the target composition exactly (50/30/20 of 50)") {
    val byTier = Curation.domainMix(spark, sfDir)
      .groupBy("tier").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byTier == Map("web" -> 25L, "books" -> 15L, "code" -> 10L),
      s"composition off target: $byTier")
  }

  test("domain mix first-level window is salt-bounded, not whole-tier") {
    val ws = collect(executed(Curation.domainMix(spark, sfDir))) {
      case w: WindowExec => w
    }
    assert(ws.size >= 2, "two-level top-k should plan two windows")
    val first = ws.last // innermost window = level 1
    val keys = first.partitionSpec.flatMap(_.references.map(_.name)).distinct
    assert(keys.contains("salt"),
      s"level-1 window partitions by $keys — a whole tier in one partition")
  }

  test("chunk dedup shuffles digests, never chunk or document text") {
    val ex = exchanges(Curation.chunkDedup(spark, sfDir))
    assert(ex.nonEmpty)
    ex.foreach { e =>
      val banned = e.output.map(_.name).filter(n => n == "text" || n == "chunk")
      assert(banned.isEmpty, s"shuffle carries chunk text: $banned")
    }
  }

  test("packing bins overflow by at most one document") {
    // contract: bin boundary is tokens_before < BUDGET, so fill can exceed
    // BUDGET only by the last doc's tokens: fill < BUDGET + max doc tokens
    val maxToks = Tables.documents(spark, sfDir)
      .select(max(size(split(col("text"), " ")))).collect()(0).getInt(0)
    val rows = Curation.packSequences(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val maxFill = r.getAs[Long]("max_fill")
      assert(maxFill < 256L + maxToks,
        s"bin fill $maxFill breaks the ≤ budget+1-doc packing contract")
    }
  }

  test("packing windows are (source, bucket)-bounded, never source alone") {
    val ws = collect(executed(Curation.packSequences(spark, sfDir))) {
      case w: WindowExec => w
    }
    assert(ws.nonEmpty)
    ws.foreach { w =>
      val keys = w.partitionSpec.flatMap(_.references.map(_.name)).distinct
      assert(keys.contains("bucket"),
        s"running-sum window partitions by $keys — one partition per source " +
          "holds a whole 100 TB stratum")
    }
  }

  test("column profile is a single scan (r14: unpivot + two-level agg, not 4 passes)") {
    val scans = collect(executed(Curation.columnProfile(spark, sfDir))) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"profile read the fact table ${scans.size} times")
  }

  test("grouping sets is one scan (Expand), not a union of per-level scans") {
    val scans = collect(executed(JoinsPlus.groupingSets(spark, sfDir))) {
      case s: FileSourceScanExec => s
    }
    assert(scans.size == 1, s"grouping sets read the fact table ${scans.size} times")
  }

  test("shuffle shards mix sources fully and cover the corpus") {
    val rows = Curation.shuffleShards(spark, sfDir).collect()
    val nSources = Tables.documents(spark, sfDir)
      .select(countDistinct("source")).collect()(0).getLong(0)
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // hash sharding must interleave sources into shards (a partition copy
    // would put ~1 source per shard) and keep shards balanced; with ~31
    // docs per shard over 20 sources full coverage isn't expected — half is
    rows.foreach { r =>
      assert(r.getAs[Long]("n_sources") * 2 >= nSources,
        s"shard ${r.get(0)} holds ${r.getAs[Long]("n_sources")}/$nSources " +
          "sources — shards are not mixed")
    }
    val counts = rows.map(_.getAs[Long]("n_docs"))
    assert(counts.max < 3 * counts.min,
      s"shards unbalanced: min=${counts.min} max=${counts.max}")
  }

  test("event anomaly scores the stream against broadcast stats (no event shuffle)") {
    val plan = executed(Breadth.eventAnomaly(spark, sfDir))
    val bcasts = collect(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bcasts.nonEmpty, "per-type stats must broadcast onto the stream")
    // with the stats side broadcast, no exchange may carry the raw value
    // column un-aggregated alongside its stats (which would mean the
    // stream shuffled for the join instead)
    val ex = collect(plan) { case e: ShuffleExchangeExec => e }
    ex.foreach { e =>
      val names = e.output.map(_.name)
      assert(!(names.contains("value") && names.contains("mu")),
        s"joined stream rows shuffled: $names")
    }
  }

  test("lm score sums exact decimals, not doubles (order-independent)") {
    val df = TextAnalysis.lmScore(spark, sfDir)
    val aggs = collect(executed(df)) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    val sumTypes = aggs.flatMap(_.aggregateExpressions)
      .filter(_.aggregateFunction.prettyName == "sum")
      .map(_.aggregateFunction.dataType)
    assert(sumTypes.exists(_.isInstanceOf[org.apache.spark.sql.types.DecimalType]),
      s"score sum runs on $sumTypes — a double sum is merge-order-dependent")
  }

  test("lm score: a NULL-text doc adds no terms to the corpus size") {
    import spark.implicits._
    def corpus(name: String, rows: Seq[(Long, String)]): String = {
      val dir = java.nio.file.Paths.get("/tmp/graft-lm-null", name)
      graft.sources.SnapshotLake.deleteRecursively(dir)
      rows.toDF("doc_id", "text").coalesce(1)
        .write.parquet(dir.resolve("documents.parquet").toString)
      dir.toString
    }
    val docs = Seq((1L, "a b a c"), (2L, "b c d"), (3L, "a a e"))
    val clean = corpus("clean", docs)
    val withNull = corpus("with_null", docs :+ ((4L, null: String)))
    // size(split(NULL)) is -1 without ANSI and NULL with it; both must
    // count as the 0 terms the NULL doc explodes to
    val key = "spark.sql.ansi.enabled"
    val saved = spark.conf.get(key)
    try Seq("false", "true").foreach { ansi =>
      spark.conf.set(key, ansi)
      assert(TextAnalysis.lmScore(spark, withNull).collect().toSeq ==
        TextAnalysis.lmScore(spark, clean).collect().toSeq, s"ansi=$ansi")
    } finally spark.conf.set(key, saved)
  }

  test("stratified sample: min stratum kept whole; kept counts bounded and deterministic") {
    val rows = Curation.stratifiedSample(spark, sfDir).collect()
    val minDocs = rows.map(_.getAs[Long]("n_docs")).min
    rows.foreach { r =>
      val (nd, nk) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"))
      assert(nk <= nd)
      // h·n_s < B·2³² is ALWAYS true when n_s == B (h < 2³² by range), so
      // the smallest stratum survives intact — the equal-representation
      // anchor of the scheme
      if (nd == minDocs) assert(nk == nd, s"min stratum dropped rows: $r")
      assert(r.getAs[Long]("budget") == minDocs)
    }
    // membership is a pure function of doc_id — a re-run keeps identical rows
    val again = Curation.stratifiedSample(spark, sfDir).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("cluster-aware split: zero straddling clusters, partitions cover the corpus") {
    val rows = Dedup.splitAssign(spark, sfDir).collect()
    assert(rows.map(_.getAs[String]("split")).toSet == Set("train", "val", "test"))
    rows.foreach(r =>
      assert(r.getAs[Long]("n_straddling_clusters") == 0L,
        s"near-dup cluster straddles splits: $r"))
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sfDir).count(),
      "split partitions must cover every document exactly once")
    // train holds the bulk (8/10 hash buckets)
    val train = rows.find(_.getAs[String]("split") == "train").get
    assert(train.getAs[Long]("n_docs") > total / 2)
  }

  test("span corruption: rates near theory, run structure consistent, deterministic") {
    val rows = Curation.spanCorruption(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val (tok, masked, sent) = (
      rows.map(_.getAs[Long]("n_tokens")).sum,
      rows.map(_.getAs[Long]("n_masked")).sum,
      rows.map(_.getAs[Long]("n_sentinels")).sum)
    // theory: P(masked) = 1 − (19/20)^3 ≈ 0.1426; wide band for small SFs
    val rate = masked.toDouble / tok
    assert(rate > 0.10 && rate < 0.19, s"mask rate $rate far from 0.143")
    // each sentinel replaces a maximal run of ≥ 1 and mean run ≈ 3.2
    assert(sent <= masked && masked <= 6 * sent,
      s"run structure off: $masked masked / $sent sentinels")
    val again = Curation.spanCorruption(spark, sfDir).collect()
    assert(rows.map(_.toString).sameElements(again.map(_.toString)),
      "mask must be a pure function of (doc_id, position)")
  }

  test("padding waste: arithmetic identities hold and bucketing beats pad-to-max") {
    val rows = Curation.paddingWaste(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (b, nd, nt) = (r.getAs[Long]("bucket"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"))
      // pad target is min(bucket ceiling, global max): bounded above by
      // the raw ceiling arithmetic, non-negative, and pointwise ≤ the
      // pad-to-global-max baseline
      assert(r.getAs[Long]("pad_tokens") <= b * nd - nt)
      assert(r.getAs[Long]("pad_tokens") >= 0L)
      assert(r.getAs[Long]("pad_tokens") <=
        r.getAs[Long]("pad_tokens_unbucketed"))
    }
  }

  test("ngram novelty: distinct ≤ total; one source recomputed directly") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.ngramNovelty(spark, sfDir).collect()
    rows.foreach(r => assert(
      r.getAs[Long]("n_distinct") <= r.getAs[Long]("n_grams")))
    graft.functions.GraftFunctions.register(spark)
    val src = rows.head.getAs[String]("source")
    val grams = Tables.documents(spark, sfDir)
      .filter(col("source") === src)
      .select(explode(expr("word_shingles(split(text, ' '), 8)")).as("g"))
      .collect().map(_.getString(0))
    assert(rows.head.getAs[Long]("n_grams") == grams.length)
    assert(rows.head.getAs[Long]("n_distinct") == grams.distinct.length)
  }

  test("split contamination: cluster-aware split never leaks more than the naive split") {
    val m = Dedup.splitContamination(spark, sfDir).collect()
      .map(r => r.getAs[String]("method") -> r.getAs[Double]("contamination_rate"))
      .toMap
    assert(m.keySet == Set("cluster", "naive"))
    assert(m("cluster") <= m("naive"),
      s"cluster-aware split leaked MORE than naive: $m")
  }

  test("grouping sets levels are consistent: () row equals the sum of (rf) rows") {
    val rows = JoinsPlus.groupingSets(spark, sfDir).collect()
    val totals = rows.filter(r => r.getString(0) == "ALL").map(_.getLong(2)).sum
    val perFlag = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
      .map(_.getLong(2)).sum
    assert(totals == perFlag, s"grand total $totals != sum of flag level $perFlag")
  }

  test("quantile norm: two shifted sources collapse to the same pooled " +
    "mean after normalization") {
    import spark.implicits._
    // a = {1,2,3,4}, b = {11,12,13,14}: same shape, shifted location.
    // Pooled CDF maps a's and b's k-th value to the same pooled value
    // (2,4,12,14), so both means land on exactly 8.0
    val docs = (Seq(1L, 2L, 3L, 4L).map(("a", _)) ++
      Seq(11L, 12L, 13L, 14L).map(("b", _))).toDF("source", "n_chars")
    val rows = operators.Curation.quantileNormOn(docs).collect()
      .map(r => (r.getString(0), r.getAs[Double]("mean_before"),
        r.getAs[Double]("mean_after")))
    assert(rows.toSeq == Seq(("a", 2.5, 8.0), ("b", 12.5, 8.0)),
      s"got ${rows.toSeq}")
  }
}
