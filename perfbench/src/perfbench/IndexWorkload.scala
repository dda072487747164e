package perfbench

import graft.index.{IndexBuilder, IndexConfig, IndexManifest, IndexReader}
import graft.search.{Engine, LocalServing}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** `index`: building and serving one code corpus. Set-up builds a
  * 2 000-file subset twice to warm the build path, then the corpus, and
  * pins that index for serving (`IndexReader.cacheForServing`,
  * `LocalServing` filled with the query working set). Every round then
  * runs the same operations: one `IndexBuilder.build` of the corpus into a
  * fresh directory, four passes over the query set through
  * `LocalServing.bm25TopK`, five of the queries through
  * `Engine.bm25TopK(..).collect()`, and a fixed quarter of the set as one
  * `Engine.bm25TopKBatch`. A fixed share of the query set targets the terms
  * of the U+FFFE pre-tokenized files.
  */
object IndexWorkload {

  val files = 12000
  val warmFiles = 2000
  val k = 10
  val codeQueries = 384
  val localPasses = 4
  val fffeQueries = 16
  val batchCode = 96
  val batchFffe = 4
  val distCode = 4

  def config(nproc: Int, n: Int): IndexConfig = IndexConfig(
    tokenizerName = "TokenBigram", withPositions = true,
    nShards = 2 * nproc, buildPartitions = 2 * nproc,
    // keywords in about a quarter of the files or more are salted
    hotTermDf = n / 4L, nSalts = 4)

  /** Checks a build against the oracle: manifest statistics always,
    * df and cf of `sample` terms when given.
    */
  def checkBuild(ctx: Ctx, m: IndexManifest, dir: String, oracle: Oracle.Index, shaSum: Long,
      sample: Seq[String]): Unit = {
    val o = ctx.out
    o.check(m.numDocs == oracle.numDocs, s"$dir: numDocs ${m.numDocs}, expected ${oracle.numDocs}")
    o.check(m.contentShaXor == shaSum, s"$dir: content digest ${m.contentShaXor}, expected $shaSum")
    o.check(m.totalTokens == oracle.totalTokens, s"$dir: totalTokens ${m.totalTokens}, expected ${oracle.totalTokens}")
    if (sample.nonEmpty) {
      val spark = ctx.spark
      val got = spark.read.parquet(s"$dir/lexicon").filter(col("term").isin(sample: _*))
        .select("term", "df", "cf").collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      sample.foreach { t =>
        val want = (oracle.df(t), oracle.cf(t))
        o.check(got.getOrElse(t, (0L, 0L)) == want, s"$dir: term '$t' df/cf ${got.get(t)}, expected $want")
      }
    }
  }

  /** Terms whose df and cf are checked: hot keywords, pre-tokenized terms,
    * and seeded draws across the df range.
    */
  def sampleTerms(seed: Long, oracle: Oracle.Index, n: Int): Seq[String] = {
    val byDf = oracle.postings.keys.toArray.sorted.sortBy(t => -oracle.df(t))
    val drawn = (0 until n).map(i => byDf(Gen.below(Gen.draw(seed, i, 77), byDf.length.toLong).toInt))
    (Gen.hotKeywords.toSeq ++ (0 until Gen.fffeFiles).map(Gen.fffeTerm) ++ drawn).distinct
  }

  final case class Q(id: Long, text: String, terms: Seq[String], fffe: Boolean)

  /** Single-term queries over the term classes of the program's own query
    * benchmark (`graft.Bench`: three hot keywords, three mid-df and four
    * rare identifiers, each also timed alone there). Query i is of class
    * i % 10: the hot keywords `if`, `return` and `while`; three identifiers
    * of vocabulary rank 5-299, drawn log-uniformly (the band of Bench's
    * ranks 5, 40 and 300); four of rank 2000-4999. Only the identifiers
    * are seeded: the first of a seeded sequence of draws from the band that
    * is in the corpus. Queries of several terms are left out: block-max
    * WAND drops a matching document from some multi-term top-k lists, on
    * some seeds only.
    */
  def queries(seed: Long, oracle: Oracle.Index): Seq[Q] = {
    val hot = Seq("if", "return", "while")
    def drawn(i: Int)(rank: Long => Int): String =
      Iterator.from(0).map(j => Gen.ident(rank(Gen.draw(seed, i, 902 + j)))).find(t => oracle.df(t) > 0).get
    val code = (0 until codeQueries).map { i =>
      val c = i % 10
      if (c < 3) hot(c)
      else if (c < 6) drawn(i)(bits => (5.0 * math.pow(60.0, Gen.uniform(bits))).toInt)
      else drawn(i)(bits => 2000 + Gen.below(bits, 3000L).toInt)
    }
    val fffe = (0 until fffeQueries).map(j => Gen.fffeTerm(j % Gen.fffeFiles))
    (code.map(t => (t, false)) ++ fffe.map(t => (t, true))).zipWithIndex.map { case ((t, f), i) =>
      Q(i.toLong, t, Oracle.queryTerms(Oracle.bigramTokens(t)), f)
    }
  }

  val fffeReason = "U+FFFE file scored with a doclen that is not its indexed token count " +
    "(norms count the raw content, postings drop U+FFFE first)"

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val out = ctx.out
    val cfg = config(ctx.nproc, files)
    val input = ctx.setup("input") { Input.writeCorpus(ctx, "input", files) }
    val docs = spark.read.parquet(input)
    val corpus = Input.corpus(ctx.seed, files)
    val oracle = new Oracle.Index(corpus.iterator.map { case (id, c) => id -> Oracle.bigramTokens(c) })
    val shaSum = Input.shaDigestSum(corpus.iterator.map(_._2))
    val inputBytes = corpus.iterator.map(c => Input.utf8Bytes(c._2)).sum
    val sample = sampleTerms(ctx.seed, oracle, 40)
    val qs = queries(ctx.seed, oracle)
    val expected = qs.map(q => q.id -> Oracle.ranked(oracle.scores(q.terms))).toMap
    // seeded order of the local pass; the distributed subset keeps one
    // pre-tokenized query so every path sees the same share of them
    val order = qs.sortBy(q => Gen.draw(ctx.seed, q.id, 950))
    val distSet = qs.filterNot(_.fffe).take(distCode) :+ qs.find(_.fffe).get
    val batchSet = qs.filterNot(_.fffe).take(batchCode) ++ qs.filter(_.fffe).take(batchFffe)
    val batchIn = batchSet.map(q => (q.id, q.text))

    def build(name: String): (IndexManifest, Long) = {
      val t0 = System.nanoTime()
      val m = ctx.tracer.span("index", "IndexBuilder.build") { IndexBuilder.build(spark, docs, ctx.dir(name), cfg) }
      (m, System.nanoTime() - t0)
    }

    // set-up: two builds of a small subset (a build keeps getting faster
    // over its first few runs in a JVM; small builds buy most of that
    // warm-up cheaply), the served index, the serving cache filled with
    // the query working set, and one pass over every query path
    ctx.setup("warm-up builds") {
      val few = docs.filter(col("docId") < warmFiles)
      (0 until 2).foreach { i =>
        IndexBuilder.build(spark, few, ctx.dir(s"warm$i"), config(ctx.nproc, warmFiles))
        Input.delete(ctx.dir(s"warm$i"))
      }
    }
    val served = ctx.dir("served")
    val (m0, _) = ctx.setup("served index build") { build("served") }
    checkBuild(ctx, m0, served, oracle, shaSum, sample)
    val (reader, serving) = ctx.setup("serving cache and warm-up") {
      val r = new IndexReader(spark, served)
      ctx.tracer.span("index", "IndexReader.cacheForServing") { r.cacheForServing() }
      val ls = new LocalServing(r)
      qs.flatMap(_.terms).distinct.grouped(50).foreach(ts => ls.bm25TopK(ts.mkString(" "), k))
      qs.foreach(q => ls.bm25TopK(q.text, k))
      distSet.take(2).foreach(q => Engine.bm25TopK(r, q.text, k).collect())
      Engine.bm25TopKBatch(r, batchIn, k).collect()
      (r, ls)
    }

    val firstResult = mutable.HashMap[Long, Seq[(Long, Double)]]()
    def verify(q: Q, path: String, got: Seq[(Long, Double)]): Unit = {
      val err = Oracle.compareTopK(got, expected(q.id), k)
      firstResult.get(q.id) match {
        case None => firstResult(q.id) = got
        case Some(prev) => out.check(prev == got, s"query ${q.id} '${q.text}': $path result differs from an earlier path or round")
      }
      if (err.isEmpty) out.op(None)
      else if (q.fffe) out.op(Some(fffeReason))
      else { out.op(Some("wrong top-k")); out.check(false, s"query ${q.id} '${q.text}' ($path): ${err.get}") }
    }
    def sorted(xs: Seq[(Long, Double)]) = xs.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))

    val builds = mutable.ArrayBuffer[Long]()
    val local = mutable.ArrayBuffer[(Boolean, Long)]()
    val localIds = mutable.ArrayBuffer[Long]()
    val passMeans = mutable.ArrayBuffer[Double]()
    val dist = mutable.ArrayBuffer[(Boolean, Long)]()
    val distSpans = mutable.ArrayBuffer[Span]()
    val (h0, m0s, f0) = (serving.hits, serving.misses, serving.fallbacks)
    val t0 = System.nanoTime()
    var round = 0
    var last = ""
    while (round < 2 || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      // a traced run alternates traced and untraced rounds
      val on = round % 2 == 0
      ctx.tracing(on)
      val name = s"build$round"
      val (m, ns) = build(name)
      builds += ns
      checkBuild(ctx, m, ctx.dir(name), oracle, shaSum, Nil)
      out.op(None)
      if (last.nonEmpty) Input.delete(ctx.dir(last))
      last = name

      (0 until localPasses).foreach { _ =>
        val n0 = local.size
        order.foreach { q =>
          ctx.tracer.op = q.id
          val s = System.nanoTime()
          val r = ctx.tracer.span("search", "LocalServing.bm25TopK") { serving.bm25TopK(q.text, k) }
          local += ((on, System.nanoTime() - s))
          localIds += q.id
          verify(q, "local", r.map(d => (d.docId, d.score)))
        }
        passMeans += local.iterator.drop(n0).map(_._2 / 1e6).sum / order.size
      }
      distSet.foreach { q =>
        ctx.tracer.op = q.id
        val s = System.nanoTime()
        val r = ctx.tracer.span("search", "Engine.bm25TopK") { Engine.bm25TopK(reader, q.text, k).collect() }
        dist += ((on, System.nanoTime() - s))
        if (on && ctx.traced) distSpans += ctx.tracer.named("Engine.bm25TopK").last
        verify(q, "distributed", sorted(r.toSeq.map(d => (d.docId, d.score))))
      }
      ctx.tracer.op = -1
      val rows = ctx.tracer.span("search", "Engine.bm25TopKBatch") { Engine.bm25TopKBatch(reader, batchIn, k).collect() }
      val byQ = rows.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(r => (r.getLong(1), r.getDouble(2))).toSeq }
      batchSet.foreach(q => verify(q, "batch", sorted(byQ.getOrElse(q.id, Seq.empty))))
      round += 1
    }
    ctx.tracing(true)
    checkBuild(ctx, IndexManifest.fromJson(graft.core.Fs.readString(spark, s"${ctx.dir(last)}/manifest.json")),
      ctx.dir(last), oracle, shaSum, sample)
    val byClass = localIds.zip(local.map(_._2)).groupBy { case (id, _) => if (id < codeQueries) s"${id % 10}" else "fffe" }
    System.err.println("[index] local query ms by class (query i mod 10), mean: " + byClass.toSeq.sortBy(_._1).map {
      case (c, xs) => f"$c ${xs.map(_._2 / 1e6).sum / xs.size}%.3f" }.mkString(", "))
    out.check(serving.misses == m0s, s"serving cache missed ${serving.misses - m0s} terms in the timed phase")
    out.check(serving.fallbacks == f0, s"${serving.fallbacks - f0} local queries fell back to the distributed path")

    if (!ctx.traced) {
      // a pass's mean weighs each term class by its share and its cost; the
      // median over passes keeps a GC pause in one pass out of the figure
      out.put("op_mean_ms", Stats.median(passMeans.toSeq), "ms")
      out.put("work_per_s", corpus.length / (Stats.median(builds.map(_.toDouble).toSeq) / 1e9), "1/s")
    } else {
      ctx.drain()
      val m = ctx.meter.get
      Layers.buildStageMetrics(ctx, ctx.tracer.named("IndexBuilder.build").filter(_.startNs >= t0))
      Layers.storageMetrics(ctx, served, inputBytes)
      val storageBytes = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      out.put("index.storage_mib", Input.mib(storageBytes), "MiB")
      out.put("index.open_serving_s", ctx.tracer.named("IndexReader.cacheForServing").head.seconds, "s")
      out.put("search.local.hits", (serving.hits - h0).toDouble, "count")
      out.put("search.local.misses", (serving.misses - m0s).toDouble, "count")
      out.put("search.local.fallbacks", (serving.fallbacks - f0).toDouble, "count")
      out.put("search.local.cached_mib", Input.mib(serving.cachedBytesNow), "MiB")
      out.put("search.serving_mib", Input.mib(storageBytes + serving.cachedBytesNow), "MiB")
      // latencies from the untraced rounds of the run
      out.put("search.local.p99_ms", Stats.quantile(local.filterNot(_._1).map(_._2 / 1e6).toSeq, 0.99), "ms")
      out.put("search.dist.p50_ms", Stats.median(dist.filterNot(_._1).map(_._2 / 1e6).toSeq), "ms")
      val per = distSpans.map(sp => (sp, m.window(sp.startMs, sp.endMs)))
      val nd = per.size.toDouble
      out.put("search.dist.jobs_per_query", per.map(_._2.jobs).sum / nd, "count")
      out.put("search.dist.tasks_per_query", per.map(_._2.tasks).sum / nd, "count")
      out.put("search.dist.task_ms_per_query", per.map(_._2.runMs).sum / nd, "ms")
      out.put("search.dist.wait_ms_per_query", per.map { case (sp, _) => m.idleMs(sp.startMs, sp.endMs) }.sum / nd, "ms")
      val batches = ctx.tracer.named("Engine.bm25TopKBatch").map(sp => m.window(sp.startMs, sp.endMs))
      val nb = batches.size.toDouble
      out.put("search.batch.jobs", batches.map(_.jobs).sum / nb, "count")
      out.put("search.batch.cpu_s", batches.map(_.cpuS).sum / nb, "s")
      out.put("search.batch.shuffle_write_mib", batches.map(_.shuffleWriteMiB).sum / nb, "MiB")
      val termLists = qs.map(_.terms)
      val reps = 2000
      val ts0 = System.nanoTime()
      ctx.tracer.span("index", "IndexReader.termStats") {
        var i = 0
        while (i < reps) { termLists.foreach(reader.termStats); i += 1 }
      }
      out.put("index.term_stats_us", (System.nanoTime() - ts0) / 1e3 / (reps.toDouble * termLists.size), "us")
      Parse.measure(ctx, reader, qs.map(_.text))
      Layers.tokenize(ctx, corpus.take(2000).map(_._2).toSeq)
      Layers.codec(ctx, corpus.toSeq, qs.flatMap(_.terms).distinct)
      Overhead.put(ctx, local.toSeq)
    }
  }
}
