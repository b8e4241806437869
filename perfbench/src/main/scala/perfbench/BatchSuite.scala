package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

import graft.{SparkEntry, Tables}
import Checks.Digest

/** `batch_suite`: `SparkEntry.queries` on the sf0.01 tables, each result
  * written in full to `format("noop")`, never counted.
  *
  * The suite is the queries listed in `expected/batch_digests.tsv`, each
  * with the row count and digest of its output on the tree the digests
  * were recorded from. The seed permutes the order. An untimed pass
  * computes the digests, which also fills the JIT and generated-class
  * caches the way a long-lived session has them filled. Two timed passes
  * follow and each query's time is the lower of its two: interference
  * from outside the run only ever adds time. The passes take about the
  * run length, which `--seconds` does not change. */
object BatchSuite extends Workload {

  val DigestFile = "batch_digests.tsv"

  /** Order-insensitive digest of a result: row count and the sum of
    * per-row hashes. Top-level floating-point columns are rounded to six
    * places, so the last bits of a sum taken in another order do not
    * change it. */
  def digest(df: DataFrame): Digest = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name), 6)
        case _: MapType | _: ArrayType | _: StructType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L)))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def readExpected(ctx: Ctx): Map[String, Digest] =
    Files.readAllLines(ctx.args.expected.resolve(DigestFile), UTF_8).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t")).map {
        case Array(q, rows, hash) => q -> Digest(rows.toLong, hash.toLong)
      }.toMap

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ctx.args.data
    val expected = readExpected(ctx)
    val order = new scala.util.Random(ctx.args.seed).shuffle(expected.keys.toSeq.sorted)
    // set-up: resolve every table in a fresh session
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val s = spark.newSession()
      Tables.names.foreach(t => Tables(s, dir, t).schema)
      (System.nanoTime() - t0) / 1e9
    }
    val got = order.map(q => q -> digest(SparkEntry.queries(q)(spark, dir))).toMap
    val verdict = Checks.checkBatch(expected, got)

    ctx.probes.reset()
    val w0 = System.nanoTime()
    val passes = (1 to 2).map { _ =>
      order.map { q =>
        val t0 = System.nanoTime()
        ctx.tracer.span(q, "batch.write") { _ => noop(SparkEntry.queries(q)(spark, dir)) }
        q -> (System.nanoTime() - t0) / 1e9
      }.toMap
    }
    val perQuery = order.map(q => q -> passes.map(_(q)).min).toMap
    val wallMs = (System.nanoTime() - w0) / 1e6
    val layerCommon = ctx.probes.layerMetrics(wallMs, ctx.cores)

    val qs = perQuery.values.toSeq
    val (tailPct, tail) = Stats.tail(qs)
    val suiteS = qs.sum
    val named = Seq(
      Metric("batch_suite_s", suiteS, "s"),
      Metric("batch_query_p50_s", Stats.median(qs), "s"),
      Metric("batch_query_tail_s", tail, "s"),
      Metric("batch_query_tail_pct", tailPct, "pct"),
      Metric("batch_queries", qs.size, "count"))
    val families = perQuery.groupBy(_._1.take(1)).toSeq.sortBy(_._1).map { case (f, m) =>
      Metric(s"batch.family_${f}_s", m.values.sum, "s") }
    // the traced run also records what .count() would have hidden
    val countGap =
      if (!ctx.args.trace) Nil
      else {
        val countS = order.map { q =>
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }.sum
        Seq(Metric("batch.count_gap_s", perQuery.values.sum - countS, "s"))
      }
    Outcome(verdict, Stats.median(setups), Stats.median(qs) * 1000, tail * 1000,
      qs.size / suiteS, named,
      families ++ countGap ++ layerCommon ++ ctx.traceMetrics(wallMs))
  }

  /** Record the digests and one timed noop pass of every query, so the
    * suite can be chosen and its expected outputs written. Each digest is
    * taken twice, the second time with a different shuffle partition
    * count, and a query whose two digests differ is marked unstable. */
  def calibrate(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.args.data
    val names = SparkEntry.queries.keys.toSeq.sorted
    val first = names.map(q => q -> scala.util.Try(digest(SparkEntry.queries(q)(spark, dir)))).toMap
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    val second = names.map(q => q -> scala.util.Try(digest(SparkEntry.queries(q)(spark, dir)))).toMap
    spark.conf.set("spark.sql.shuffle.partitions", ctx.cores.toString)
    val lines = names.map { q =>
      val t0 = System.nanoTime()
      val ok = scala.util.Try(noop(SparkEntry.queries(q)(spark, dir))).isSuccess
      val ms = (System.nanoTime() - t0) / 1e6
      val d = first(q)
      val stable = d.isSuccess && second(q).toOption == d.toOption
      s"$q\t${d.map(_.rows).getOrElse(-1L)}\t${d.map(_.hash).getOrElse(0L)}\t$stable\t$ok\t$ms"
    }
    val out = ctx.args.work.getParent.resolve("batch_calibration.tsv")
    Files.write(out, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    println(s"calibration written to $out")
  }
}
