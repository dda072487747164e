package perfbench

import graft.ops.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import scala.collection.mutable

/** `clean`: the composed cleaning pipeline over the seeded code corpus,
  * each stage written out before the next reads it:
  * `TextAnalysis.gopherKeep` → `Dedup.decontaminate` (k = 13 against a
  * seeded benchmark side) → `Dedup.dedupCorpus` → `TextAnalysis.hashSplit`.
  * The corpus carries exact and near duplicates, and the benchmark side
  * carries 13-gram windows of some corpus files. The repetition filter
  * keeps about one generated file in eight, so 16 000 files leave the
  * later stages about 2 000 rows.
  */
object CleanWorkload {

  val files = 16000
  val exactDups = files / 20
  val nearDups = files / 20
  val gramK = 13
  val splitSeed = "perfbench"
  val stages = Seq("gopher", "decontaminate", "dedup", "split")

  /** (doc_id, text) rows: generated files, exact copies, and copies with
    * their first line replaced.
    */
  def corpus(seed: Long): Array[(Long, String)] = {
    val base = Array.tabulate(files)(i => Gen.codeFile(seed, i.toLong))
    val exact = Array.tabulate(exactDups)(i => base(Gen.below(Gen.draw(seed, i, 500), files.toLong).toInt))
    val near = Array.tabulate(nearDups) { i =>
      val src = base(Gen.below(Gen.draw(seed, i, 501), files.toLong).toInt)
      s"let changed$i = ${Gen.below(Gen.draw(seed, i, 502), 1000L)};\n" + src.substring(src.indexOf('\n') + 1)
    }
    (base ++ exact ++ near).zipWithIndex.map { case (t, i) => (i.toLong, t) }
  }

  /** Benchmark side: 20-word windows of 96 seeded corpus files (enough
    * that some survive the repetition filter on every seed), and 24 rows of
    * words no file contains.
    */
  def bench(seed: Long, docs: Array[(Long, String)]): Array[String] = {
    val taken = (0 until 96).flatMap { i =>
      val words = docs(Gen.below(Gen.draw(seed, i, 510), files.toLong).toInt)._2.split(" ", -1)
      if (words.length < 20) None
      else {
        val at = Gen.below(Gen.draw(seed, i, 511), (words.length - 19).toLong).toInt
        Some(words.slice(at, at + 20).mkString(" "))
      }
    }
    val unrelated = (0 until 24).map(i => (0 until 20).map(j => s"zzbench${i}x$j").mkString(" "))
    (taken ++ unrelated).toArray
  }

  /** Space-split word k-grams as `Dedup.gramsExpr` defines them: a text of
    * fewer than k words is one gram.
    */
  def grams(text: String, k: Int): Set[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < k) Set(text) else ws.sliding(k).map(_.mkString(" ")).toSet
  }

  def md5Bucket(seed: String, id: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$seed:$id".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = d.map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 1000
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val out = ctx.out
    val docs = corpus(ctx.seed)
    val benchRows = bench(ctx.seed, docs)
    val input = ctx.dir("corpus")
    ctx.setup("input") {
      spark.createDataset(docs.toSeq).toDF("doc_id", "text").repartition(2 * ctx.nproc)
        .write.mode("overwrite").parquet(input)
    }
    val benchDf = spark.createDataset(benchRows.toSeq).toDF("text")

    def stage(name: String, run: Int, in: DataFrame)(f: DataFrame => DataFrame): (DataFrame, Long) = {
      val path = ctx.dir(s"p$run-$name")
      val t0 = System.nanoTime()
      ctx.tracer.span("ops", name) { f(in).write.mode("overwrite").parquet(path) }
      (spark.read.parquet(path), System.nanoTime() - t0)
    }
    def pipeline(run: Int, in: DataFrame): (Seq[DataFrame], Seq[Long]) = {
      val (g, tg) = stage("gopher", run, in)(TextAnalysis.gopherKeep(_))
      val (d, td) = stage("decontaminate", run, g)(Dedup.decontaminate(_, benchDf, gramK))
      val (u, tu) = stage("dedup", run, d)(Dedup.dedupCorpus(_))
      val (s, ts) = stage("split", run, u)(TextAnalysis.hashSplit(_, seed = splitSeed))
      (Seq(g, d, u, s), Seq(tg, td, tu, ts))
    }
    def clear(run: Int): Unit = stages.foreach(s => Input.delete(ctx.dir(s"p$run-$s")))

    // the pipeline keeps getting faster over its first three runs in a JVM
    ctx.setup("warm-up pipelines") {
      (1 to 2).foreach { i => pipeline(-i, spark.read.parquet(input)); clear(-i) }
    }

    val wall = mutable.ArrayBuffer[(Boolean, Long)]()
    val stageNs = mutable.ArrayBuffer[Seq[Long]]()
    var counts: Seq[Long] = Nil
    var last: Seq[DataFrame] = Nil
    val t0 = System.nanoTime()
    var r = 0
    while (r < 2 || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val on = r % 2 == 0
      ctx.tracing(on)
      val (outs, ns) = pipeline(r, spark.read.parquet(input))
      out.op(None)
      wall += ((on, ns.sum))
      if (on) stageNs += ns
      ctx.tracing(true)
      val c = outs.map(_.count())
      out.check(counts.isEmpty || counts == c, s"pipeline $r stage row counts $c differ from an earlier run's $counts")
      counts = c
      System.err.println(s"[clean] pipeline $r ms per stage: ${ns.map(_ / 1000000).mkString(" ")}; rows out: ${c.mkString(" ")}")
      if (r > 0) clear(r - 1)
      last = outs
      r += 1
    }

    // checks on the last pipeline's outputs
    val benchGrams = benchRows.iterator.flatMap(grams(_, gramK)).toSet
    val byId = docs.toMap
    val gopherIds = last(0).select("doc_id").as[Long].collect().toSet
    val kept = last(1).select("doc_id", "text").as[(Long, String)].collect()
    kept.foreach { case (id, t) =>
      out.check(byId.get(id).contains(t), s"decontaminate: row $id text changed")
      out.check(!grams(t, gramK).exists(benchGrams.contains), s"decontaminate kept row $id, which shares a $gramK-gram with the benchmark side")
    }
    val dropped = (gopherIds -- kept.map(_._1)).toSeq.sorted
    out.check(dropped.nonEmpty, "decontaminate dropped nothing")
    dropped.take(200).foreach { id =>
      out.check(grams(byId(id), gramK).exists(benchGrams.contains), s"decontaminate dropped row $id, which shares no $gramK-gram with the benchmark side")
    }
    val deduped = last(2).select("doc_id", "text").as[(Long, String)].collect()
    out.check(deduped.map(_._2).distinct.length == deduped.length, "dedupCorpus left two rows with the same text")
    out.check(deduped.length < kept.length, "dedupCorpus removed nothing")
    val split = last(3).select("doc_id", "bucket", "split").as[(Long, Long, String)].collect()
    out.check(split.length == deduped.length, "hashSplit changed the row count")
    split.foreach { case (id, bucket, s) =>
      val want = md5Bucket(splitSeed, id)
      out.check(bucket == want && s == (if (want < 900) "train" else "test"), s"hashSplit row $id: bucket $bucket/$s, expected $want")
    }

    if (!ctx.traced) {
      val ns = wall.map(_._2.toDouble).toSeq
      out.put("op_mean_ms", ns.sum / ns.size / 1e6, "ms")
      out.put("work_per_s", docs.length * ns.size / (ns.sum / 1e9), "1/s")
    } else {
      ctx.drain()
      val m = ctx.meter.get
      stages.zipWithIndex.foreach { case (s, i) =>
        val spans = ctx.tracer.named(s).filter(_.startNs >= t0)
        val tot = spans.map(sp => m.window(sp.startMs, sp.endMs)).foldLeft(Totals.zero)(_ + _)
        val n = spans.size.toDouble
        out.put(s"ops.${s}_s", stageNs.map(_(i) / 1e9).sum / stageNs.size, "s")
        out.put(s"ops.${s}_cpu_s", tot.cpuS / n, "s")
        out.put(s"ops.${s}_shuffle_write_mib", tot.shuffleWriteMiB / n, "MiB")
        out.put(s"ops.${s}_spill_mib", tot.spillMiB / n, "MiB")
        out.put(s"ops.${s}_rows_out", counts(i).toDouble, "count")
      }
      Layers.tokenize(ctx, docs.take(2000).map(_._2).toSeq)
      Layers.codec(ctx, docs.take(2000).toSeq, Nil)
      Overhead.put(ctx, wall.toSeq)
    }
  }
}
