package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}
import graft.core.{Model, OpCache}
import graft.operators.{Dedup, Logit, Similarity}
import graft.pipeline.{Pipeline, Settings}
import graft.pipeline.demo.TpchShipments
import graft.pipeline.sources.ReferencePipelines
import graft.storage.LocalStorage
import graft.streaming.EventStreams
import graft.warehouse.StarSchema

/** Seconds of one measured call: wall, process CPU (every thread, JIT
  * compiler and GC threads included), and CPU of the Java threads alone
  * (tasks, driver, Spark's own threads). Java-thread CPU is what the
  * bounded metrics use: on a shared machine the hypervisor's steal time
  * moves wall time between runs of one code, and background JIT
  * compilation moves process CPU. */
final case class Cost(wallS: Double, cpuS: Double, threadCpuS: Double)

/** One measured pass: its cost and the cost of each operation in it. */
final case class PassRecord(pass: Cost, ops: Seq[Cost])

/** Benchmark harness: runs one workload in one JVM on a `local[4]`
  * session and writes its raw measurements as one JSON document.
  *
  * {{{
  * perfbench.Main --workload etl_fanin|view_serve --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE
  * }}}
  */
object Main {
  final class Checks {
    var attempted = 0L
    var failed = 0L
    val messages = ArrayBuffer.empty[String]
    def op(n: Long = 1): Unit = attempted += n
    def fail(msg: String): Unit = {
      failed += 1
      if (messages.size < 20) messages += msg
      System.err.println(s"[perfbench] CHECK FAILED: $msg")
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ready = System.currentTimeMillis()
    val tracer = new Tracer(spark, traced)
    tracer.record("setup.session",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble, ready.toDouble)
    val gc0 = Tracer.gcSeconds()
    val checks = new Checks
    val extra = ArrayBuffer.empty[(String, JValue)]

    val (setups, passes) = workload match {
      case "etl_fanin" => etl(spark, tracer, checks, seed, seconds, work, extra)
      case "view_serve" => serve(spark, tracer, checks, seed, seconds, work, extra)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    log("workload done")
    tracer.finish()

    val doc = JObject(List(
      "workload" -> JString(workload),
      "session_ready_ms" -> JDouble(ready.toDouble),
      "setup_s" -> JArray(setups.map(JDouble(_)).toList),
      "passes" -> JArray(passes.map(p => JObject(
        "pass_s" -> JDouble(p.pass.wallS), "pass_cpu_s" -> JDouble(p.pass.threadCpuS),
        "pass_process_cpu_s" -> JDouble(p.pass.cpuS),
        "op_ms" -> JArray(p.ops.map(o => JDouble(o.wallS * 1e3)).toList))).toList),
      "attempted" -> JInt(checks.attempted),
      "failed" -> JInt(checks.failed),
      "messages" -> JArray(checks.messages.map(JString(_)).toList),
      "gc_s" -> JDouble(Tracer.gcSeconds() - gc0),
      "code_heap_mb" -> JDouble(Tracer.codeHeapUsedMb()),
      "code_heap_max_mb" -> JDouble(Tracer.codeHeapMaxMb()),
      "opcache_live_end" -> JInt(OpCache.liveCount),
      "heap_live_peak_mb" -> JDouble(heapLivePeakMb),
      "stream_progress" -> JArray(tracer.progress.toList.map(m =>
        JObject(m.toList.map { case (k, v) => k -> JDouble(v) })))) ++
      extra.toList ++
      (if (traced) List("trace" -> tracer.dump()) else Nil))
    Files.write(Paths.get(opts("out")), compact(render(doc)).getBytes(UTF_8))
    spark.stop()
    log("session stopped")
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr (the run's log), stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of each live Java thread. HotSpot hides its JIT
    * compiler threads from this view, and GC threads are not Java threads. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.map(id => id -> threads.getThreadCpuTime(id)).filter(_._2 >= 0).toMap

  private def measure[A](f: => A): (A, Cost) = {
    val (t0, c0, th0) = (System.nanoTime(), os.getProcessCpuTime, threadCpu())
    val a = f
    val (t1, c1, th1) = (System.nanoTime(), os.getProcessCpuTime, threadCpu())
    // threads that ended inside the call lose their share; threads that
    // started inside it count from zero
    val thread = th1.iterator.map { case (id, ns) => ns - th0.getOrElse(id, 0L) }.sum
    (a, Cost((t1 - t0) / 1e9, (c1 - c0) / 1e9, thread / 1e9))
  }

  private var heapLivePeakMb = 0.0

  /** Heap still in use after a full collection, at a point where the
    * workload's cached data is alive; the run reports the largest. Called
    * outside the timed regions. */
  private def heapCheckpoint(): Unit = {
    // the second collection frees what Spark's ContextCleaner released
    // (broadcast and shuffle blocks of collected plans) after the first
    System.gc()
    Thread.sleep(500)
    System.gc()
    val mb = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    heapLivePeakMb = math.max(heapLivePeakMb, mb)
  }

  private def secondsOf[A](f: => A): (A, Double) = {
    val (a, c) = measure(f)
    (a, c.wallS)
  }

  /** Run passes until `seconds` have elapsed, and at least `minPasses`. */
  private def loop(seconds: Double, minPasses: Int)(pass: Int => PassRecord): Seq[PassRecord] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = ArrayBuffer.empty[PassRecord]
    while (out.size < minPasses || System.nanoTime() < deadline) {
      out += pass(out.size)
      val last = out.last
      log(f"pass ${out.size - 1}: ${last.pass.wallS}%.3f s (cpu ${last.pass.cpuS}%.3f s, " +
        f"java threads ${last.pass.threadCpuS}%.3f s), " +
        s"ops ${last.ops.map(o => f"${o.wallS * 1e3}%.0f").mkString(" ")}")
    }
    out.toSeq
  }

  private def keyOf(r: Row): String =
    Obs(r.getString(0), r.getString(1), r.getString(2), r.getInt(3), r.getString(4),
      r.getDouble(5), r.getString(6)).key

  // ---------------------------------------------------------------- etl_fanin

  /** One provider's written rows against its expected rows: row count
    * plus order-independent digest; on a mismatch, a few differing rows. */
  def mismatch(provider: String, expected: Seq[Obs], got: Seq[String]): Option[String] = {
    val want = expected.map(_.key)
    if (got.size == want.size && Obs.digest(got) == Obs.digest(want)) None
    else {
      val (w, g) = (want.toSet, got.toSet)
      Some(s"$provider: ${got.size} rows (expected ${want.size}); " +
        s"unexpected ${(g -- w).take(2).mkString(" | ")}; missing ${(w -- g).take(2).mkString(" | ")}")
    }
  }

  def etl(spark: SparkSession, tracer: Tracer, checks: Checks, seed: Long, seconds: Double,
      work: Path, extra: ArrayBuffer[(String, JValue)]): (Seq[Double], Seq[PassRecord]) = {
    // the inputs are the harness's own work, made once and not counted in
    // set-up (SelfTest checks the generator's determinism)
    val in = tracer.span("setup.generate") { Gen.etl(spark, seed, work.resolve("inputs")) }
    val corpus = tracer.span("setup.generate") { Gen.corpus(seed, work.resolve("corpus")) }
    val curation = new Curation(spark, tracer, checks, corpus)
    log("inputs generated")
    val pipelines: Seq[Pipeline] = ReferencePipelines.all(in.transport, Settings(),
      in.wbIndicators, in.whoIndicators, in.sdgSeries, in.imfIndicators, in.sipri, in.eleccap) :+
      TpchShipments.pipeline(in.tpchDir)
    val storage = LocalStorage(in.storageRoot, in.storageVersion)
    val byProvider = in.expected.groupBy(_.provider)
    val missing = pipelines.map(_.provider).filterNot(byProvider.contains)
    if (missing.nonEmpty) checks.fail(s"generator emitted no rows for ${missing.mkString(",")}")
    val rows = in.expected.size.toLong
    extra += "rows_per_pass" -> JInt(rows)

    val passes = loop(seconds, 1) { pass =>
      val ops = ArrayBuffer.empty[Cost]
      val (_, passCost) = measure(tracer.span("pass") {
        pipelines.foreach { p =>
          val (_, c) = measure {
            val raw = tracer.span("sources.retrieve") { p.retrieve(spark, Some(storage)) }
            val out = tracer.span("pipeline.transform") { p.transform(spark, raw) }
            tracer.span("storage.write") { storage.write(out, p.provider) }
          }
          ops += c
        }
        log("fan-in done")
        curation.run(pass, ops)
      })
      checks.op(pipelines.size)
      heapCheckpoint()
      // outside the timed region: every provider's written rows against
      // the generator's expected rows (count + order-independent digest)
      val written = spark.read.parquet(pipelines.map(p => storage.pathFor(p.provider)): _*)
        .select(Model.observationSchema.fieldNames.map(col).toIndexedSeq: _*).collect()
        .groupBy(_.getString(0))
      pipelines.foreach { p =>
        mismatch(p.provider, byProvider.getOrElse(p.provider, Nil),
          written.getOrElse(p.provider, Array.empty[Row]).map(keyOf).toSeq)
          .foreach(m => checks.fail(s"pass $pass $m"))
      }
      curation.check(pass)
      if (pass == 0) {
        val bytes = Files.walk(Paths.get(storage.root, storage.version))
          .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
          .mapToLong(f => Files.size(f)).sum
        extra += "stored_bytes" -> JInt(bytes)
      }
      OpCache.releaseAll()
      PassRecord(passCost, ops.toSeq)
    }
    (Nil, passes)
  }

  // --------------------------------------------------------------- view_serve

  /** A serve template: its name, whether it keys on a string or an
    * integer literal, and a SQL text drawn from the seeded parameters. */
  final case class Template(name: String, key: String, sql: java.util.SplittableRandom => String)

  def templates(providers: IndexedSeq[String], countries: IndexedSeq[String],
      indicatorNames: IndexedSeq[String], indicatorIds: IndexedSeq[Long]): Seq[Template] = {
    def pick[A](r: java.util.SplittableRandom, xs: IndexedSeq[A]): A = xs(r.nextInt(xs.size))
    Seq(
      Template("group_count", "string", r =>
        s"SELECT dimension_name, count(*) AS n FROM observation " +
          s"WHERE indicator_provider = '${pick(r, providers)}' GROUP BY dimension_name"),
      Template("country_profile", "string", r =>
        s"SELECT indicator_name, count(*) AS n, sum(value) AS total FROM observation " +
          s"WHERE country_code = '${pick(r, countries)}' GROUP BY indicator_name"),
      Template("top_n", "string", r =>
        s"SELECT country_code, year, dimension_name, value FROM observation " +
          s"WHERE indicator_name = '${pick(r, indicatorNames)}' " +
          "ORDER BY value DESC, country_code, year, dimension_name LIMIT 10"),
      Template("year_slice", "int", r =>
        s"SELECT region, count(*) AS n, sum(value) AS total FROM observation " +
          s"WHERE year = ${Gen.YearMin + r.nextInt(Gen.Years.size)} GROUP BY region"),
      Template("year_trend", "int", r => {
        val y = Gen.YearMin + r.nextInt(Gen.Years.size - 4)
        s"SELECT year, count(*) AS n, avg(value) AS mean FROM observation " +
          s"WHERE year BETWEEN $y AND ${y + 4} AND indicator_id = ${pick(r, indicatorIds)} GROUP BY year"
      }),
      Template("region_rollup", "int", r =>
        s"SELECT region, dimension_name, count(*) AS n, sum(value) AS total FROM observation " +
          s"WHERE indicator_id = ${pick(r, indicatorIds)} GROUP BY ROLLUP (region, dimension_name)"))
  }

  private def jsonOf(v: Any): JValue = v match {
    case null => JNull
    case s: String => JString(s)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case b: Boolean => JBool(b)
    case other => JString(other.toString)
  }

  def serve(spark: SparkSession, tracer: Tracer, checks: Checks, seed: Long, seconds: Double,
      work: Path, extra: ArrayBuffer[(String, JValue)]): (Seq[Double], Seq[PassRecord]) = {
    // the workload's input: the generator's expected rows for the seed,
    // as the fan-in would have produced them
    val store = LocalStorage(work.resolve("warehouse").toString, Gen.Version)
    val tables = Seq("country", "indicator", "dimension", "series")
    val (in, obs) = tracer.span("setup.generate") {
      val in = Gen.etl(spark, seed, work.resolve("inputs"), stage = false)
      val rows = in.expected.map(o => Row(o.provider, o.indicator, o.country, o.year,
        o.dimension, o.value, o.source))
      (in, spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), Model.observationSchema))
    }
    log("inputs generated")

    // set-up: build the star schema and store it, load the stored tables,
    // register the views and warm each template once
    val (tpls, setupS) = secondsOf(tracer.span("setup.inputs") {
      val w = tracer.span("warehouse.build") { StarSchema.build(spark, obs) }
      tracer.span("storage.write") {
        tables.zip(Seq(w.country, w.indicator, w.dimension, w.series))
          .foreach { case (n, df) => store.write(df, n) }
      }
      OpCache.releaseAll()
      val Seq(country, indicator, dimension, series) = tables.map(store.readName(spark, _))
      StarSchema.registerViews(spark, StarSchema.Warehouse(country, indicator, dimension, series))
      val ind = indicator.select("id", "name").collect()
      val tpls = templates(
        in.expected.map(_.provider).distinct.sorted.toIndexedSeq,
        in.expected.map(_.country).distinct.sorted.toIndexedSeq,
        ind.map(_.getString(1)).sorted.toIndexedSeq,
        ind.map(_.getAs[Number](0).longValue).sorted.toIndexedSeq)
      val warm = Gen.rng(seed, 100)
      tpls.foreach(t => spark.sql(t.sql(warm)).collect())
      tpls
    })
    log(f"setup: $setupS%.3f s")
    val whDir = Paths.get(store.root, store.version)
    heapCheckpoint()

    val r = Gen.rng(seed, 200)
    val results = ArrayBuffer.empty[JValue]
    val passes = loop(seconds, 2) { _ =>
      val ops = ArrayBuffer.empty[Cost]
      val order = tpls.map(t => (r.nextInt(), t)).sortBy(_._1).map(_._2)
      val (_, passCost) = measure(tracer.span("pass")(order.foreach { t =>
        val sql = t.sql(r)
        val (rows, c) = measure(tracer.span(s"warehouse.query.key_${t.key}") {
          spark.sql(sql).collect()
        })
        ops += c
        results += JObject("template" -> JString(t.name), "key" -> JString(t.key),
          "sql" -> JString(sql),
          "rows" -> JArray(rows.toList.map(row => JArray(row.toSeq.map(jsonOf).toList))))
      }))
      checks.op(order.size)
      PassRecord(passCost, ops.toSeq)
    }
    val resultsPath = work.resolve("serve_results.jsonl")
    Files.write(resultsPath, results.map(j => compact(render(j))).mkString("\n").getBytes(UTF_8))
    extra += "serve_results" -> JString(resultsPath.toString)
    extra += "warehouse_dir" -> JString(whDir.toString)
    (Seq(setupS), passes)
  }

  // --------------------------------------------------------------- curation

  /** Connected components of `ids` under `edges`: node -> smallest id of
    * its component. */
  def components(ids: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    ids.foreach(find)
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  private def digest(rows: Array[Row]): Long =
    Obs.digest(rows.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("\u0001")))

  /** The corpus-curation stages that follow the fan-in in each etl_fanin
    * pass: near-dup index and components over the held-in share, the
    * held-out share streamed as micro-batch files (one delivered twice)
    * through `EventStreams.componentMaintenance`, the quality classifier,
    * and IVF centroids. */
  final class Curation(spark: SparkSession, tracer: Tracer, checks: Checks, in: Gen.CorpusInputs) {
    private val docs = spark.createDataFrame(spark.sparkContext.parallelize(in.docs, 4), Gen.docSchema)
    private val emb = spark.createDataFrame(spark.sparkContext.parallelize(in.embeddings, 4), Gen.embSchema)
    private val firstDigests = scala.collection.mutable.Map.empty[String, Long]
    private var closure: Map[Long, Long] = null
    private var p0 = 0
    private var out: (org.apache.spark.sql.DataFrame, (Array[Row], Array[Row]), Array[Row]) = _

    /** Runs the four stages, appending each stage's cost to `ops`. */
    def run(pass: Int, ops: ArrayBuffer[Cost]): Unit = {
      p0 = tracer.progress.size
      // stage 1: bootstrap near-dup index and components over the held-in share
      val corpus = docs.filter(col("held") === 0)
      val ((index, labels0), c1) = measure {
        val index = tracer.span("operators.dedup_index") {
          val built = Dedup.buildCorpusIndex(corpus, "doc_id", "text")
          val idx = Dedup.CorpusIndex(OpCache.persist(built.hashes),
            OpCache.persist(built.shingles), OpCache.persist(built.bands))
          Seq(idx.hashes, idx.shingles, idx.bands).foreach(_.count())
          idx
        }
        val labels0 = tracer.span("operators.dedup_cc") {
          val pairs = Dedup.pairsFromIndex(index, threshold = 0.5).select(col("a_id"), col("b_id"))
          val self = corpus.select(col("doc_id").as("a_id"), col("doc_id").as("b_id"))
          val l = OpCache.persist(Dedup.connectedComponents(pairs.unionByName(self), "a_id", "b_id"))
          l.count()
          l
        }
        (index, labels0)
      }
      // stage 2: the held-out share streams in as micro-batch files
      val (labels, c2) = measure(tracer.span("streaming.batch") {
        val stream = spark.readStream.schema(Gen.docSchema)
          .option("maxFilesPerTrigger", 1)
          .json(in.streamDir + "/*.json")
        EventStreams.componentMaintenance(stream, index, labels0, "doc_id", "text",
          queryName = s"perfbench_components_$pass")
      })
      // stage 3: the quality classifier
      val (model, c3) = measure(tracer.span("operators.logit") {
        val m = Logit.train(docs.withColumn("label", (col("lang") === "en").cast("int")),
          "doc_id", "text", "label", buckets = 1024, rounds = 2)
        (m.weights.collect(), m.bias.collect())
      })
      // stage 4: IVF centroids over the embeddings
      val (cents, c4) = measure(tracer.span("operators.kmeans") {
        Similarity.trainIvfCentroids(emb, "vec_id", "embedding").collect()
      })
      ops ++= Seq(c1, c2, c3, c4)
      log(f"curation stages ${c1.wallS}%.1f ${c2.wallS}%.1f ${c3.wallS}%.1f ${c4.wallS}%.1f s")
      out = (labels, model, cents)
    }

    /** Outside the timed region: the micro-batch count, streamed labels
      * against the single-shot closure over the whole corpus, and every
      * output against the first pass's. */
    def check(pass: Int): Unit = {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      val batches = tracer.progress.size - p0
      checks.op(batches + 3)
      if (batches != in.batches)
        checks.fail(s"pass $pass: $batches micro-batches, expected ${in.batches}")
      val (labels, model, cents) = out
      val got = labels.select(col("node"), col("component")).collect()
      if (closure == null) {
        // the single-shot answer: verified near-dup pairs over the whole
        // corpus, closed here by union-find (component = smallest doc id)
        val pairs = Dedup.pairsFromIndex(Dedup.buildCorpusIndex(docs, "doc_id", "text"),
          threshold = 0.5).select(col("a_id"), col("b_id")).collect()
          .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
        val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
        closure = Main.components(ids, pairs)
      }
      val streamed = got.map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap
      if (streamed != closure)
        checks.fail(s"pass $pass: streamed labels differ from the single-shot closure on " +
          s"${(streamed.keySet ++ closure.keySet).count(k => streamed.get(k) != closure.get(k))} docs")
      def same(name: String, d: Long): Unit = firstDigests.get(name) match {
        case None => firstDigests(name) = d
        case Some(d0) => if (d0 != d) checks.fail(s"pass $pass $name differs from pass 0")
      }
      same("labels", digest(got))
      same("logit", digest(model._1) * 31 + digest(model._2))
      same("centroids", digest(cents))
      out = null
    }
  }
}
