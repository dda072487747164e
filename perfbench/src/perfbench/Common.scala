package perfbench

import graft.analysis.{AddSink, Normalizer, Tokenizers}
import graft.codec.{PostingBlock, PostingCodec}
import graft.core.Posting
import graft.index.DocCombiner

/** Inputs on disk and small file helpers. */
object Input {

  /** Writes the code corpus (docId, content) of `n` generated files plus
    * the pre-tokenized files as parquet under the work directory.
    */
  def writeCorpus(ctx: Ctx, name: String, n: Int): String = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val path = ctx.dir(name)
    spark.range(0, n.toLong + Gen.fffeFiles, 1, 2 * ctx.nproc)
      .map(i => (i.longValue, Gen.corpusContent(seed, n, i)))
      .toDF("docId", "content")
      .write.mode("overwrite").parquet(path)
    path
  }

  /** The same corpus, generated on the driver for the oracle. */
  def corpus(seed: Long, n: Int): Array[(Long, String)] =
    Array.tabulate(n + Gen.fffeFiles)(i => (i.toLong, Gen.corpusContent(seed, n, i.toLong)))

  def utf8Bytes(s: String): Long = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  /** Sum over files of the first 32 bits of their content SHA-256. */
  def shaDigestSum(contents: Iterator[String]): Long = contents.map { c =>
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(c.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }.sum

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.iterator.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new java.io.File(path))
  }

  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(path))
  }

  def mib(bytes: Long): Double = bytes / 1048576.0
}

/** Single-thread measurements of the `analysis` and `codec` layers over a
  * fixed sample of a workload's own text, reported by traced runs.
  */
object Layers {

  private def timeFor(minSeconds: Double)(pass: => Unit): Double = {
    pass // warm-up pass
    var passes = 0
    val t0 = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t0 < minSeconds * 1e9) { pass; passes += 1 }
    (System.nanoTime() - t0) / 1e9 / passes
  }

  /** analysis.tokenize_mib_per_s: TokenBigram Add-mode, one thread. */
  def tokenize(ctx: Ctx, sample: Seq[String]): Unit = {
    val tok = Tokenizers.byName("TokenBigram")
    val scratch = new Normalizer.Scratch
    val sink = new AddSink {
      var n = 0L
      def acceptSpan(s: Int, e: Int, p: Int): Unit = n += 1
      def acceptTerm(t: String, p: Int): Unit = n += 1
    }
    val bytes = sample.iterator.map(Input.utf8Bytes).sum
    val perPass = ctx.tracer.span("analysis", "tokenizeAddNormalized") {
      timeFor(0.3) { sample.foreach(c => tok.tokenizeAddNormalized(tok.normalizeWith(c, scratch), sink)) }
    }
    ctx.out.put("analysis.tokenize_mib_per_s", Input.mib(bytes) / perPass, "MiB/s")
  }

  /** codec.*: `PostingCodec.encode` over `DocCombiner.docPostings` output of
    * the sample (positions on), and `PostingCodec.decode` of the blocks of
    * `decodeTerms` (every term when empty).
    */
  def codec(ctx: Ctx, sample: Seq[(Long, String)], decodeTerms: Seq[String]): Unit = {
    val tok = Tokenizers.byName("TokenBigram")
    val comb = new DocCombiner(true)
    val rows = sample.flatMap { case (id, c) => DocCombiner.docPostings(tok, comb, id, c) }
    val lists: Array[(String, Array[Posting])] = rows.groupBy(_._1).toArray.map { case (t, rs) =>
      t -> rs.sortBy(_._2).map(r => Posting(r._2, r._3, r._4)).toArray
    }
    val nPostings = lists.iterator.map(_._2.length.toLong).sum
    var blocks: Map[String, Vector[PostingBlock]] = Map.empty
    val encS = ctx.tracer.span("codec", "PostingCodec.encode") {
      timeFor(0.3) { blocks = lists.iterator.map { case (t, ps) => t -> PostingCodec.encode(ps.iterator, true)._1 }.toMap }
    }
    val bytes = blocks.valuesIterator.flatMap(_.iterator).map(_.data.length.toLong).sum
    val wanted = if (decodeTerms.isEmpty) blocks.values.toSeq else decodeTerms.flatMap(blocks.get)
    val decPostings = wanted.iterator.flatMap(_.iterator).map(_.n.toLong).sum
    var sink = 0L
    val decS = ctx.tracer.span("codec", "PostingCodec.decode") {
      timeFor(0.3) { wanted.foreach(bs => PostingCodec.decode(bs, true).foreach(p => sink += p.tf)) }
    }
    ctx.out.put("codec.encode_mpostings_per_s", nPostings / 1e6 / encS, "M/s")
    ctx.out.put("codec.decode_mpostings_per_s", if (decPostings == 0) 0.0 else decPostings / 1e6 / decS, "M/s")
    ctx.out.put("codec.bytes_per_posting", bytes.toDouble / nPostings, "B")
  }

  /** Index build metrics from the listener over the given traced builds:
    * per build, the wall time and task figures of each stage's SQL
    * executions, told apart by the directory they write.
    */
  val buildStages = Seq("docs", "lexicon", "norms", "segments")

  def buildStageMetrics(ctx: Ctx, builds: Seq[Span]): Unit = {
    val m = ctx.meter.get
    ctx.drain()
    val n = builds.size.toDouble
    val per = builds.map(b => (b, m.byOutputDir(b.startMs, b.endMs)))
    def stage(dir: String): (Double, Totals) = per.map { case (_, d) => d.getOrElse(dir, (0.0, Totals.zero)) }
      .foldLeft((0.0, Totals.zero)) { case ((w, t), (w2, t2)) => (w + w2, t + t2) }
    buildStages.foreach { s =>
      val (wall, t) = stage(s)
      ctx.out.put(s"index.${s}_s", wall / n, "s")
      ctx.out.put(s"index.${s}_cpu_s", t.cpuS / n, "s")
      ctx.out.put(s"index.${s}_gc_s", t.gcS / n, "s")
      ctx.out.put(s"index.${s}_shuffle_write_mib", t.shuffleWriteMiB / n, "MiB")
      ctx.out.put(s"index.${s}_spill_mib", t.spillMiB / n, "MiB")
    }
    val staged = buildStages.map(s => stage(s)._1).sum
    ctx.out.put("index.other_s", (builds.map(_.seconds).sum - staged) / n, "s")
    val all = builds.map(b => m.window(b.startMs, b.endMs)).foldLeft(Totals.zero)(_ + _)
    ctx.out.put("index.jobs_per_build", all.jobs / n, "count")
    ctx.out.put("index.tasks_per_build", all.tasks / n, "count")
  }

  def storageMetrics(ctx: Ctx, indexDir: String, inputBytes: Long): Unit = {
    val sizes = buildStages.map(s => s -> Input.dirBytes(s"$indexDir/$s"))
    sizes.foreach { case (s, b) => ctx.out.put(s"index.${s}_mib", Input.mib(b), "MiB") }
    ctx.out.put("index.bytes_per_input_byte", sizes.map(_._2).sum.toDouble / inputBytes, "B/B")
  }
}

/** trace.overhead_pct: median of the traced operations against the median
  * of the untraced ones in the same traced run.
  */
object Overhead {
  def put(ctx: Ctx, ops: Seq[(Boolean, Long)]): Unit = {
    val on = ops.filter(_._1).map(_._2.toDouble)
    val off = ops.filterNot(_._1).map(_._2.toDouble)
    val pct = if (on.isEmpty || off.isEmpty) 0.0 else (Stats.median(on) / Stats.median(off) - 1.0) * 100.0
    ctx.out.put("trace.overhead_pct", pct, "%")
  }
}

/** search.parse_us: `Searcher.queryTokens` on the index's analysis chain. */
object Parse {
  def measure(ctx: Ctx, reader: graft.index.IndexReader, texts: Seq[String]): Unit = {
    val reps = 2000
    var n = 0L
    texts.foreach(t => n += graft.search.Searcher.queryTokens(reader, t).size)
    val t0 = System.nanoTime()
    ctx.tracer.span("search", "Searcher.queryTokens") {
      var i = 0
      while (i < reps) { texts.foreach(t => n += graft.search.Searcher.queryTokens(reader, t).size); i += 1 }
    }
    ctx.out.put("search.parse_us", (System.nanoTime() - t0) / 1e3 / (reps.toDouble * texts.size), "us")
  }
}
