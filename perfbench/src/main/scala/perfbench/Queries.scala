package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}

/** Order-sensitive digest of a query result: column names and types,
  * then every row in result order (registered queries end in a global
  * ORDER BY with a unique tiebreak, so the order is part of the
  * contract). Doubles render with all their digits. */
object ResultHash {
  def of(df: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(df.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
      .mkString(",").getBytes(UTF_8))
    df.collect().foreach { r =>
      md.update('\n'.toByte)
      md.update(render(r).getBytes(UTF_8))
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "␀"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(render).mkString("(", "\u0001", ")")
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u0001", "]")
    case x => x.toString
  }
}

/** A closed-loop client over a list of registered queries: each round
  * runs every query once, in an order the seed permutes, exactly as
  * graft.Bench does — `fn(spark, dir)` builds the frame, a noop write
  * executes every output column, and `clearCache()` isolates the next
  * query. The first settle round is the untimed correctness check: it
  * collects each result instead and compares its digest with the golden
  * recorded for this fixture, so the check warms the JIT as well. */
final class QueryWorkload(ctx: Ctx, dir: String, names: Seq[String],
                          goldens: Map[String, String], warmRounds: Int) {
  private val fns = graft.SparkEntry.queries
  require(names.nonEmpty && names.forall(fns.contains),
    s"unknown queries: ${names.filterNot(fns.contains).mkString(",")}")
  val hashes = mutable.LinkedHashMap[String, String]()

  private def runQuery(name: String, round: Int): Unit = {
    val layer = QueryWorkload.layerOf(name)
    ctx.timed(name, layer, round) {
      val df = ctx.tracer.frame(ctx.tracer.span(s"operators.$layer.fn", Plan) {
        fns(name)(ctx.spark, dir)
      })
      ctx.tracer.span("exec.noop", Exec) {
        df.write.format("noop").mode("overwrite").save()
      }
    }
    ctx.spark.catalog.clearCache()
  }

  private def checkQuery(name: String): Unit = {
    val h =
      try ResultHash.of(fns(name)(ctx.spark, dir))
      catch { case NonFatal(e) =>
        ctx.errors += s"$name check: ${e.getClass.getSimpleName}"
        "error"
      }
    ctx.spark.catalog.clearCache()
    hashes(name) = h
    ctx.check(s"$name result digest", goldens.get(name).contains(h))
  }

  def run(): Unit = {
    require(ctx.settle >= 1, "query workloads check results in a settle round")
    val rng = new Random(ctx.seed)
    // the cold round runs in list order, so every seed's cold round pays
    // the same first-touch work in the same place; warm rounds permute
    ctx.rounds(warmRounds) {
      case 0 => names.foreach(runQuery(_, 0))
      case 1 => rng.shuffle(names).foreach(checkQuery)
      case r => rng.shuffle(names).foreach(runQuery(_, r))
    }
  }

  /** Per-query cold sample, warm median and memo builds, plus the
    * end-to-end figures of a query workload. */
  def detail(): Map[String, Any] = {
    val warm = ctx.warm
    val byName = warm.groupBy(_.kind)
    val cold = ctx.cold.map(s => s.kind -> s).toMap
    val perQuery = names.sorted.map { n =>
      val w = byName.getOrElse(n, Seq.empty).map(_.seconds)
      n -> Map("layer" -> QueryWorkload.layerOf(n),
        "cold_s" -> cold.get(n).map(_.seconds),
        "warm_median_s" -> Stats.median(w), "warm_n" -> w.size,
        "warm_s" -> w,
        "cold_builds" -> cold.get(n).map(_.builds).getOrElse(0L))
    }
    val firstTouch = perQuery.collect {
      case (n, m) if m("cold_builds").asInstanceOf[Long] > 0 =>
        cold(n).seconds - m("warm_median_s").asInstanceOf[Double]
    }.sum
    Map("queries" -> names, "per_query" -> perQuery.toMap,
      "first_touch_s" -> Stats.metric(firstTouch, "s"),
      "memo_builds_per_round" -> ctx.roundBuilds.toSeq,
      "result_digests" -> hashes) ++
      Stats.latency("query", warm.map(_.seconds))
  }
}

object QueryWorkload {
  /** The operator modules whose query functions the workloads call. */
  val modules: Seq[(String, Seq[graft.Q])] = {
    import graft.operators._
    Seq("RefQueries" -> RefQueries.all, "JoinsPlus" -> JoinsPlus.all,
      "Dedup" -> Dedup.all, "Similarity" -> Similarity.all,
      "TextAnalysis" -> TextAnalysis.all)
  }

  private lazy val layers: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  def layerOf(name: String): String = layers.getOrElse(name, "other")
}
