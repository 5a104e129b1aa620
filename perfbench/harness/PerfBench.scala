package perfbench

import java.io.File
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{GraftSession, HashedTokenEmbedder, Pipeline, QueryDef, Registry, TmpDirs}
import graft.operators.Qa
import graft.sources.ChunkStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

/** The benchmark harness: one workload in one JVM at local[4], driven
  * only through the engine's public calls. Writes a JSON result file
  * that `perfbench/run.py` checks and turns into the final result line.
  *
  * Args: --workload rag_session|loop_lane --inputs <dir> --work <dir>
  *       --seconds <n> --trace 0|1 --seed <n> --out <result.json>
  *       --trace-file <spans.jsonl>
  */
object PerfBench {
  val Cores = 4
  val TopK = 5
  val Setups = 3
  val LoopLane = Seq("gr_pagerank_conv", "gr_kcore", "ml_train_linear", "tp_bpe_train")
  /** Seconds of one warm loop-lane pass on 4 cores; a run makes
    * max(1, round(seconds / this)) timed passes. */
  val PassSeconds = 16.0

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(opt("workload"), opt("inputs"), opt("work"), opt("seconds").toInt,
      opt("trace") == "1", opt("seed").toLong)
    val json = run.execute(opt("trace-file"))
    java.nio.file.Files.writeString(new File(opt("out")).toPath, json)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

final class Run(workload: String, inputs: String, work: String, seconds: Int, trace: Boolean,
                seed: Long) {
  import PerfBench._

  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  private val info = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private var failed = 0
  private val MB = 1048576.0

  private val born = System.nanoTime()
  /** Phase marks on stderr ("[perfbench] +12.3 s check pass done"). */
  private def note(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1f s $msg")

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
  }

  private def newSession(): SparkSession = {
    val s = GraftSession.builder(s"local[$Cores]", Cores.toString)
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.maxResultSize", "1g")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Warm-up after each session start: loads the classes and compiles the
    * code paths the workload uses first. The RAG session answers one
    * question from a 100-document knowledge base (indexed by the first
    * warm-up, kept for the others); the loop lane runs q1_agg (scan,
    * aggregate, exchange) on its own tables.
    */
  private def warmUp(spark: SparkSession): Unit =
    if (workload == "rag_session") {
      val dir = s"$work/warmup"
      if (!new File(dir).exists()) Pipeline.setupKnowledgeBase(spark,
        spark.read.parquet(s"$inputs/documents.parquet").where("doc_id < 100"), dir)
      Qa.answerWithSources(spark, s"$dir/vector_store", "spark join window", TopK)
    } else exhaust(spark, Registry.byName("q1_agg"))

  def execute(traceFile: String): String = {
    var spark: SparkSession = null
    val parts = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession()
      val t1 = System.nanoTime()
      warmUp(spark)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
    }
    TmpDirs.deleteRecursively(new File(s"$work/warmup"))
    metrics("setup_s") = median(parts.map(p => p._1 + p._2))
    metrics("setup.session_s") = median(parts.map(_._1))
    metrics("setup.warmup_s") = median(parts.map(_._2))

    note(s"setup done: ${parts.map(p => f"${p._1 + p._2}%.2f").mkString(" ")}")
    val tracer = new Tracer(spark.sparkContext, trace)
    workload match {
      case "rag_session" => rag(spark, tracer)
      case "loop_lane" => lane(spark, tracer, LoopLane)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    tracer.detach()
    note("workload done")
    metrics("peak_rss_mb") = peakRssMb()
    tracer.write(traceFile)
    spark.stop()
    if (attempted > 0) metrics("fail_ratio") = failed.toDouble / attempted
    Json.obj(Seq("metrics" -> metrics.toMap, "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq, "info" -> info.toMap))
  }

  /** Largest heap still in use after a full collection, over the points
    * a traced run samples (phase ends, after each lane query). The heap
    * is fixed at 3 GB, so data a change keeps in memory shows here
    * rather than in the process's resident set.
    */
  private def sampleLiveHeap(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    metrics("heap.live_peak_mb") = math.max(metrics.getOrElse("heap.live_peak_mb", 0.0), used / MB)
  }

  /** Driver VmHWM: the process's peak resident set. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  // ------------------------------------------------------------ rag_session

  /** One answered question; `spans` maps each traced step to its span. */
  private final case class Asked(index: Int, resp: Qa.Response, seconds: Double,
                                 spans: Map[String, Int]) {
    def traced: Boolean = spans.nonEmpty
  }

  /** One question. Untraced: the user's call, `Qa.answerWithSources`.
    * Traced: the same steps made one by one, each in its own span.
    */
  private def ask(spark: SparkSession, tracer: Tracer, store: String, q: String, i: Int): Asked = {
    val req = s"q$i"
    if (!tracer.tracing) {
      val t = tracer.span("qa", req)(Qa.answerWithSources(spark, store, q, TopK))
      return Asked(i, t.value, t.seconds, Map.empty)
    }
    val spans = mutable.Map.empty[String, Int]
    def step[T](name: String)(body: => T): T = {
      val t = tracer.span(name, req)(body)
      spans(name) = t.span
      t.value
    }
    val t = tracer.span("qa", req) {
      val rows = step("qa.search") {
        val df = step("qa.search.plan") {
          val df = ChunkStore.similaritySearch(spark, store, q, TopK)
          df.queryExecution.executedPlan
          df
        }
        step("qa.search.exec")(df.collect())
      }
      step("qa.format") {
        val sources = rows.map { r =>
          Qa.Source(r.getAs[String]("text"), r.getAs[Map[String, String]]("metadata"),
            r.getAs[Double]("similarity"))
        }.toSeq
        Qa.buildPrompt(Qa.formatContext(sources), q)
        Qa.Response(q, Qa.extractiveStub(sources), sources)
      }
    }
    Asked(i, t.value, t.seconds, spans.toMap)
  }

  private def rag(spark: SparkSession, tracer: Tracer): Unit = {
    val n1 = math.max(10, seconds * 2)
    val n2 = n1
    val Q = """"q": "([^"]*)"""".r
    val questions = scala.io.Source.fromFile(s"$inputs/questions.jsonl", "UTF-8").getLines()
      .map(l => Q.findFirstMatchIn(l).get.group(1)).toVector
    require(questions.size >= n1 + n2, s"question script has ${questions.size} < ${n1 + n2}")

    // ---- build: a fresh knowledge base over the 8x corpus
    tracer.attach()
    val kbDir = s"$work/kb"
    val corpus = spark.read.parquet(s"$inputs/corpus.parquet")
    System.gc() // each phase starts from comparable heap pressure
    val kb = tracer.span("kb", "kb")(Pipeline.setupKnowledgeBase(spark, corpus, kbDir))
    attempted += 1
    info("chunk_count") = kb.value.chunkCount
    info("chunk_sql") = Registry.byName("c1_chunk").oracle.get
    if (!kb.value.extracted || !kb.value.indexed) fail("kb", new IllegalStateException("build skipped a stage"))
    val store = s"$kbDir/vector_store"
    note(f"kb built in ${kb.seconds}%.2f s")
    if (trace) sampleLiveHeap()
    if (tracer.tracing) {
      tracer.drain()
      val w = tracer.workOf(kb.span)
      metrics("kb.wall_s") = kb.seconds
      metrics("kb.jobs") = w.jobs
      metrics("kb.task_s") = w.taskS
      metrics("kb.sched_gap_s") = w.schedGapS
      metrics("kb.output_mb") = w.outputMb
      Seq("Pipeline.scala", "ChunkStore.scala").foreach(f =>
        metrics(s"kb.$f.task_s") = w.byFile.getOrElse(f, 0.0))
    }

    // ---- phase 1: one closed-loop client. Traced runs alternate traced
    // and untraced questions, so the run measures its own overhead.
    System.gc()
    val one = (0 until n1).map { i =>
      if (trace && i % 2 == 0) tracer.attach() else tracer.detach()
      ask(spark, tracer, store, questions(i), i)
    }
    tracer.detach()
    val lat1 = one.filterNot(_.traced).map(_.seconds)
    val phase1 = one.map(_.seconds).sum
    note(f"1 client: $n1 questions in $phase1%.2f s")
    if (trace) sampleLiveHeap()

    // ---- phase 2: four closed-loop clients share the next n2 questions
    System.gc()
    if (trace) tracer.attach()
    val next = new AtomicInteger(0)
    val done = new ConcurrentLinkedQueue[Asked]()
    val clientErrors = new ConcurrentLinkedQueue[Throwable]()
    val pool = Executors.newFixedThreadPool(Cores)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    (1 to Cores).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          var i = next.getAndIncrement()
          while (i < n2) {
            try done.add(ask(spark, tracer, store, questions(n1 + i), n1 + i))
            catch { case NonFatal(e) => clientErrors.add(e) }
            i = next.getAndIncrement()
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    val phase2 = (System.nanoTime() - t0) / 1e9
    val w1 = System.currentTimeMillis()
    val four = done.asScala.toSeq
    note(f"$Cores clients: $n2 questions in $phase2%.2f s")
    if (trace) sampleLiveHeap()
    attempted += n1 + n2
    clientErrors.asScala.foreach(e => fail("qa_c4", e))

    if (!trace) {
      metrics("work_s") = kb.seconds + phase1 + phase2
      metrics("lane_s") = lat1.sum
      metrics("lane_geomean_s") = geomean(lat1)
    } else {
      tracer.drain()
      val traced1 = one.filter(_.traced)
      val ms = (xs: Seq[Double]) => xs.map(_ * 1000)
      metrics("qa.p50_ms") = median(ms(traced1.map(_.seconds)))
      metrics("trace.overhead_share") =
        median(traced1.map(_.seconds)) / median(lat1) - 1.0
      val stepMs = (step: String) => median(ms(traced1.map(a => tracer.spanSeconds(a.spans(step)))))
      val search = traced1.map(a => tracer.workOf(a.spans("qa.search")))
      metrics("qa.search.plan_ms") = stepMs("qa.search.plan")
      metrics("qa.search.exec_ms") = stepMs("qa.search.exec")
      metrics("qa.search.jobs_per_q") = search.map(_.jobs.toDouble).sum / search.size
      metrics("qa.search.sched_gap_ms_per_q") = search.map(_.schedGapS * 1000).sum / search.size
      metrics("qa.search.input_mb_per_q") = search.map(_.inputMb).sum / search.size
      metrics("qa.search.rows_per_result") =
        search.map(_.inputRows.toDouble).sum / traced1.map(_.resp.sources.size).sum.max(1)
      metrics("qa.format_ms") = stepMs("qa.format")
      val c4 = four.map(a => tracer.workOf(a.spans("qa.search")))
      val wall = (w1 - w0) / 1000.0
      metrics("qa_c4.qps") = four.size / phase2
      metrics("qa_c4.p50_ms") = median(ms(four.map(_.seconds)))
      metrics("qa_c4.core_busy_share") = c4.map(_.taskS).sum / (wall * Cores)
      metrics("qa_c4.jobs_in_flight") = c4.map(_.jobSpanS).sum / wall
    }

    // ---- checks, untimed: every answer is the stub over its sources;
    // every 10th answer's top-k is recomputed by brute force
    val all = one ++ four
    val rows = spark.read.parquet(store).select("id", "text", "metadata", "embedding").collect()
    val ids = rows.map(_.getString(0))
    val emb = rows.map(_.getSeq[Any](3).map(x => x.asInstanceOf[Number].doubleValue).toArray)
    all.foreach { a =>
      val src = a.resp.sources
      val ok = a.resp.answer == Qa.extractiveStub(src) && src.size == math.min(TopK, rows.length) &&
        (a.index % 10 != 0 || sameTopK(spark, rows, ids, emb, a))
      if (!ok) fail(s"q${a.index}", new IllegalStateException(s"wrong answer to '${a.resp.query}'"))
    }
    TmpDirs.deleteRecursively(new File(kbDir))
    note("answers checked")
  }

  /** Brute-force exact top-k over the collected store: cosine in the
    * engine's fused left-to-right double loop, ties broken by id.
    */
  private def sameTopK(spark: SparkSession, rows: Array[org.apache.spark.sql.Row],
                       ids: Array[String], emb: Array[Array[Double]], a: Asked): Boolean = {
    val q = spark.range(1).select(HashedTokenEmbedder.embed(lit(a.resp.query))).head()
      .getSeq[Any](0).map(_.asInstanceOf[Number].doubleValue).toArray
    val sims = emb.map { e =>
      var xy = 0.0; var xx = 0.0; var yy = 0.0
      var i = 0
      val n = math.min(e.length, q.length)
      while (i < n) { xy += e(i) * q(i); xx += e(i) * e(i); yy += q(i) * q(i); i += 1 }
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    val top = sims.indices.sortWith { (x, y) =>
      val (sx, sy) = (sims(x), sims(y))
      // NaN (an empty text's zero vector) sorts last, as in the engine's DESC order
      if (sx.isNaN != sy.isNaN) sy.isNaN
      else if (sx != sy && !sx.isNaN) sx > sy
      else ids(x) < ids(y)
    }.take(TopK)
    top.length == a.resp.sources.size && top.zip(a.resp.sources).forall { case (k, s) =>
      rows(k).getString(1) == s.text &&
        rows(k).getAs[Map[String, String]](2) == s.metadata &&
        (sims(k) == s.similarity || math.abs(sims(k) - s.similarity) <= 1e-12)
    }
  }

  // ------------------------------------------------------------------ lanes

  private def exhaust(spark: SparkSession, d: QueryDef): Unit =
    d.run(spark, inputs).write.mode("overwrite").format("noop").save()

  private def resetMemo(spark: SparkSession, d: QueryDef): Unit =
    d.resetMemo.foreach(_(spark, inputs))

  private def lane(spark: SparkSession, tracer: Tracer, names: Seq[String]): Unit = {
    val defs = names.map(Registry.byName)
    // ---- untimed check pass over the same tables (also the warm-up of
    // each query's code paths): outputs go to parquet for the DuckDB oracle
    val checked = mutable.ArrayBuffer.empty[String]
    new scala.util.Random(seed).shuffle(defs).foreach { d =>
      attempted += 1
      try {
        resetMemo(spark, d)
        d.run(spark, inputs).coalesce(1).write.mode("overwrite").parquet(s"$work/check/${d.name}")
        checked += d.name
      } catch { case NonFatal(e) => fail(s"${d.name} (check pass)", e) }
    }
    note("check pass done")
    info("checked") = checked.toSeq
    info("oracle_sql") = defs.flatMap(d => d.oracle.map(d.name -> _)).toMap

    // ---- timed passes, query order reshuffled by the seed in each pass
    val passes = if (trace) 1 else math.max(1, math.round(seconds / PassSeconds).toInt)
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val passWalls = mutable.ArrayBuffer.empty[Double]
    var tracedSum = 0.0
    var untracedSum = 0.0
    for (p <- 1 to passes) {
      var wall = 0.0
      new scala.util.Random(seed * 1000 + p).shuffle(defs).zipWithIndex.foreach { case (d, k) =>
        attempted += 1
        System.gc() // start each query from comparable heap pressure
        try {
          if (!trace) {
            val r0 = System.nanoTime()
            resetMemo(spark, d)
            val t = tracer.span(d.name, s"${d.name}#$p")(exhaust(spark, d))
            wall += (System.nanoTime() - r0) / 1e9
            samples.getOrElseUpdate(d.name, mutable.ArrayBuffer.empty) += t.seconds
            note(f"${d.name} ${t.seconds}%.2f s")
          } else {
            // traced and untraced runs of the same query, in alternating order
            val runs = if (k % 2 == 0) Seq(true, false) else Seq(false, true)
            runs.foreach { traced =>
              resetMemo(spark, d)
              if (traced) {
                tracer.attach()
                val s = tracedQuery(spark, tracer, d, p)
                tracedSum += s
                samples.getOrElseUpdate(d.name, mutable.ArrayBuffer.empty) += s
              } else {
                tracer.detach()
                untracedSum += tracer.span(d.name, s"${d.name}#$p")(exhaust(spark, d)).seconds
              }
            }
          }
        } catch { case NonFatal(e) => fail(s"${d.name} (pass $p)", e) }
      }
      passWalls += wall
      note(s"pass $p done")
    }
    tracer.detach()
    val perQuery = samples.map { case (n, xs) => n -> median(xs.toSeq) }
    if (!trace) {
      metrics("work_s") = median(passWalls.toSeq)
      metrics("lane_s") = perQuery.values.sum
      metrics("lane_geomean_s") = geomean(perQuery.values.toSeq)
    } else {
      metrics("trace.overhead_share") = tracedSum / untracedSum - 1.0
    }
  }

  /** One traced lane query: its wall time, and its layer split from the
    * listener (jobs, task time, scheduling gap, shuffle, fence bytes) plus
    * the persisted RDD blocks it leaves behind.
    */
  private def tracedQuery(spark: SparkSession, tracer: Tracer, d: QueryDef, pass: Int): Double = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val blocks0 = { tracer.drain(); tracer.listener.rddBlockBytes }
    val t = tracer.span(d.name, s"${d.name}#$pass")(exhaust(spark, d))
    tracer.drain()
    val w = tracer.workOf(t.span)
    val fenceMb = (tracer.listener.rddBlockBytes - blocks0) / MB
    val fresh = sc.getPersistentRDDs.keySet -- before
    val leaked = sc.getRDDStorageInfo.filter(i => fresh.contains(i.id)).map(_.numCachedPartitions).sum
    val q = d.name
    metrics(s"$q.wall_s") = t.seconds
    metrics(s"$q.jobs") = w.jobs
    metrics(s"$q.task_s") = w.taskS
    metrics(s"$q.sched_gap_s") = w.schedGapS
    metrics(s"$q.shuffle_write_mb") = w.shuffleWriteMb
    metrics(s"$q.fence_mb") = fenceMb
    metrics(s"$q.spill_mb") = w.spillMb
    metrics(s"$q.leaked_blocks") = leaked
    sampleLiveHeap()
    tracer.annotate(t.span, Map("jobs" -> w.jobs, "task_s" -> w.taskS, "fence_mb" -> fenceMb,
      "leaked_blocks" -> leaked))
    t.seconds
  }
}
