package perfbench

import graft.command.{Logical, LogicalSearch}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** `window`: a day-sharded `Logical` table with one TokenDelimit index per
  * day. Each round ingests the next day through the program's write path
  * (`Logical.writeSharded` under dynamic partition overwrite, then the
  * incremental `LogicalSearch.buildIndexes`) and runs trailing-window
  * `LogicalSearch.bm25TopK` queries whose two ends fall inside a day, so
  * the two boundary shards are trimmed.
  */
object WindowWorkload {

  val rowsPerDay = 150
  val width = 3
  val k = 10
  val queriesPerRound = 4
  private val day0 = java.time.LocalDate.of(2024, 1, 1)

  def shardName(d: Int): String = day0.plusDays(d.toLong).toString.replace("-", "")
  def instant(d: Int, second: Long): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(day0.plusDays(d.toLong).atStartOfDay().plusSeconds(second))
  def docId(d: Int, i: Int): Long = d.toLong * 100000L + i

  final class Day(seed: Long, val d: Int) {
    val texts: Array[String] = Array.tabulate(rowsPerDay)(i => Gen.windowRow(seed, d, i))
    val index = new Oracle.Index(texts.indices.iterator.map(i => docId(d, i) -> Oracle.delimitTokens(texts(i))))
    def second(id: Long): Long = Gen.windowSecond((id - d.toLong * 100000L).toInt, rowsPerDay)
  }

  def dayFrame(ctx: Ctx, d: Int): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val rows = rowsPerDay
    val base = day0
    spark.range(0, rows.toLong, 1, 1).map { i =>
      val ts = java.sql.Timestamp.valueOf(base.plusDays(d.toLong).atStartOfDay()
        .plusSeconds(Gen.windowSecond(i.toInt, rows)))
      (d.toLong * 100000L + i, ts, Gen.windowRow(seed, d, i.toInt))
    }.toDF("docId", "ts", "text")
  }

  /** Query `q` of round `r`: a window from inside day `last - width + 1`
    * to inside day `last`, and 1 + q % 3 seeded words of the day vocabulary.
    */
  def query(seed: Long, r: Int, q: Int, last: Int): (Long, Long, String) = {
    val row = r.toLong * 1000 + q
    val lo = 6 * 3600L + Gen.below(Gen.draw(seed, row, 300), 12 * 3600L)
    val hi = 6 * 3600L + Gen.below(Gen.draw(seed, row, 301), 12 * 3600L)
    val n = 1 + q % 3
    val words = (0 until n).map { j =>
      val u = Gen.uniform(Gen.draw(seed, row, 303 + j))
      "w" + Gen.ident(math.min(math.pow(Gen.windowVocab.toDouble, u).toInt, Gen.windowVocab - 1))
    }
    (lo, hi, words.mkString(" "))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.out
    val root = ctx.dir("logical")
    val days = mutable.HashMap[Int, Day]()
    def day(d: Int) = days.getOrElseUpdate(d, new Day(ctx.seed, d))

    val written = mutable.Set[Int]() ++ (1 until width)
    ctx.setup("table and per-day indexes") {
      // the first round's window spans days 1 to width; the days before it
      // are ingested one at a time, as a round ingests, which warms that path
      (1 until width).foreach { d =>
        Logical.writeSharded(dayFrame(ctx, d), "ts", root)
        LogicalSearch.buildIndexes(spark, root, "docId", "text")
      }
    }

    // (query span, shards in the window, executed plan nodes) of traced queries
    val traced = mutable.ArrayBuffer[(Span, Int, Int)]()
    def windowQuery(r: Int, q: Int, last: Int, on: Boolean): (Long, Option[String]) = {
      val (loS, hiS, text) = query(ctx.seed, r, q, last)
      val first = last - width + 1
      val range = Logical.LogicalRange(Some(instant(first, loS)), true, Some(instant(last, hiS)), true)
      val t0 = System.nanoTime()
      val (rows, nodes) = ctx.tracer.span("command", "LogicalSearch.bm25TopK") {
        val df = LogicalSearch.bm25TopK(spark, root, "ts", range, text, k)
        val rows = df.collect()
        (rows, Plans.nodes(df))
      }
      val ns = System.nanoTime() - t0
      if (on && ctx.traced) {
        // the query's plan and per-shard reader lookups, timed after it so
        // a traced query pays the same as an untraced one
        val sp = ctx.tracer.named("LogicalSearch.bm25TopK").last
        val plan = ctx.tracer.span("command", "Logical.windowPlan") { Logical.windowPlan(spark, root, "ts", range) }
        ctx.tracer.span("command", "LogicalSearch.reader") {
          plan._1.foreach(s => LogicalSearch.reader(spark, root, s))
        }
        traced += ((sp, plan._1.size, nodes))
      }
      val terms = Oracle.queryTerms(Oracle.delimitTokens(text))
      val want = Oracle.ranked((first to last).filter(written.contains).flatMap { d =>
        val dd = day(d)
        dd.index.scores(terms, id => {
          val s = dd.second(id)
          (d != first || s >= loS) && (d != last || s <= hiS)
        })
      })
      val got = rows.toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      val err = Oracle.compareTopK(got, want, k)
      err.foreach(e => out.check(false, s"window query '$text' days $first..$last: $e"))
      (ns, err)
    }
    val lat = mutable.ArrayBuffer[(Boolean, Long)]()
    val ingests = mutable.ArrayBuffer[Long]()

    /** Round `r`: ingest day width + r, then the round's window queries. */
    def round(r: Int, on: Boolean): Unit = {
      val d = width + r
      val w0 = System.nanoTime()
      ctx.tracer.span("command", "Logical.writeSharded") { Logical.writeSharded(dayFrame(ctx, d), "ts", root) }
      val w1 = System.nanoTime()
      val built = ctx.tracer.span("command", "LogicalSearch.buildIndexes") {
        LogicalSearch.buildIndexes(spark, root, "docId", "text")
      }
      val w2 = System.nanoTime()
      ingests += w2 - w0
      out.op(if (built == Seq(shardName(d))) None else Some("ingest indexed the wrong shards"))
      out.check(built == Seq(shardName(d)), s"ingest of day $d indexed shards $built")
      val n = LogicalSearch.reader(spark, root, shardName(d)).manifest.numDocs
      out.check(n == rowsPerDay, s"shard ${shardName(d)}: numDocs $n, expected $rowsPerDay")
      written += d
      (0 until queriesPerRound).foreach { q =>
        val (ns, err) = windowQuery(r, q, d, on)
        out.op(err.map(_ => "wrong window top-k"))
        lat += ((on, ns))
      }
    }

    // the set-up's index builds warmed the ingest path; one untimed query
    // over the first days warms the query path
    ctx.setup("warm-up query") { windowQuery(-1, 0, width - 1, on = false) }
    val t0 = System.nanoTime()
    var r = 0
    while (r < 2 || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      // a traced run alternates traced and untraced rounds
      val on = r % 2 == 0
      ctx.tracing(on)
      round(r, on)
      r += 1
    }
    ctx.tracing(true)
    System.err.println(s"[window] query ms: ${lat.map(x => f"${x._2 / 1e6}%.0f").mkString(" ")}; ingest ms: ${ingests.map(x => f"${x / 1e6}%.0f").mkString(" ")}")

    if (!ctx.traced) {
      out.put("op_mean_ms", lat.map(_._2 / 1e6).sum / lat.size, "ms")
      out.put("work_per_s", rowsPerDay / (Stats.median(ingests.map(_.toDouble).toSeq) / 1e9), "1/s")
    } else {
      ctx.drain()
      val m = ctx.meter.get
      val per = traced.map { case (sp, _, _) => m.window(sp.startMs, sp.endMs) }
      val nq = traced.size.toDouble
      out.put("command.plan_ms", ctx.tracer.named("Logical.windowPlan").map(_.seconds * 1e3).sum / nq, "ms")
      out.put("command.reader_open_ms", ctx.tracer.named("LogicalSearch.reader").map(_.seconds * 1e3).sum / nq, "ms")
      out.put("command.shards_per_query", traced.map(_._2).sum / nq, "count")
      out.put("command.plan_nodes_per_query", traced.map(_._3).sum / nq, "count")
      out.put("command.jobs_per_query", per.map(_.jobs).sum / nq, "count")
      out.put("command.tasks_per_query", per.map(_.tasks).sum / nq, "count")
      val writes = ctx.tracer.named("Logical.writeSharded").filter(_.startNs >= t0)
      val builds = ctx.tracer.named("LogicalSearch.buildIndexes").filter(_.startNs >= t0)
      out.put("command.ingest_write_s", writes.map(_.seconds).sum / writes.size, "s")
      out.put("command.ingest_index_s", builds.map(_.seconds).sum / builds.size, "s")
      Layers.buildStageMetrics(ctx, builds)
      val lastDay = width + r - 1
      Layers.storageMetrics(ctx, s"$root/_indexes/${shardName(lastDay)}",
        day(lastDay).texts.iterator.map(Input.utf8Bytes).sum)
      val sample = (0 until width).flatMap(d => day(d).texts.indices.map(i => (docId(d, i), day(d).texts(i))))
      Layers.tokenize(ctx, sample.map(_._2))
      Layers.codec(ctx, sample, Nil)
      Parse.measure(ctx, LogicalSearch.reader(spark, root, shardName(lastDay)),
        (0 until 20).map(q => query(ctx.seed, 0, q, lastDay)._3))
      Overhead.put(ctx, lat.toSeq)
    }
  }
}

/** Node count of a DataFrame's executed physical plan, adaptive query
  * stages included.
  */
object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

  def count(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => count(a.executedPlan)
    case s: QueryStageExec => 1 + count(s.plan)
    case other => 1 + other.children.map(count).sum
  }

  def nodes(df: DataFrame): Int = count(df.queryExecution.executedPlan)
}
