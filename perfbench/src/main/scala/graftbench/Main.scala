package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession, SparkEntry, SyncApp}
import graft.sources.MemoryServer

/** One benchmark run in a fresh JVM: set up, one timed first pass, then
  * timed passes until `seconds` have been measured. Writes
  * `result.json` (and `spans.jsonl` when traced) into the work directory;
  * `run.py` turns them into the benchmark's output line.
  *
  * Usage: graftbench.Main <sync|gates> <seed> <seconds> <min timed passes>
  *        <trace 0|1> <workDir> <readyFile> [query,query,...]
  */
object Main {

  /** Simulated service time of the remote ODS, per request. */
  val serviceNs: Long = 1000000L
  val storeName = "perfbench"

  final case class Pass(
      traced: Boolean,
      wallS: Double,
      attempted: Long,
      failed: Long,
      buildS: Double,
      execS: Double,
      perQuery: Map[String, Double],
      leakedRdds: Long,
      layers: Map[String, Double],
      failedQueries: Seq[String],
      check: String)

  def main(argv: Array[String]): Unit = {
    val Array(kind, seedS, secondsS, minTimedS, traceS, workS, readyS) = argv.take(7)
    val queries = argv.drop(7).headOption.map(_.split(",").toSeq).getOrElse(Nil)
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val minTimed = minTimedS.toInt
    val trace = traceS == "1"
    val work = Paths.get(workS)
    val dataDir = work.resolve("data").toString

    val cores = GraftSession.cpus.toInt
    val builder = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) builder
      .config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (trace) spark.sparkContext.addSparkListener(Trace.Listener)

    val workload: Workload =
      if (kind == "sync") new SyncWorkload(spark, work)
      else new GateWorkload(spark, dataDir, work.resolve("outputs"), queries)

    val tSession = System.currentTimeMillis()
    // untimed warm-up, as Bench does before its sweep
    Bench.warmup(spark, dataDir)
    dropLeakedState(spark)
    val tWarm = System.currentTimeMillis()
    workload.prepare()
    val tReady = System.currentTimeMillis()
    Files.writeString(Paths.get(readyS), tReady.toString)

    // the first pass, then at least `minTimed` more and until `seconds` are
    // measured: the minimum keeps the number of passes, and so what their
    // median covers, the same from run to run. Traced runs trace the first
    // pass and then run at least two traced and two untraced passes in ABBA
    // order (untraced, traced, traced, untraced, ...) so the tracing
    // overhead is measured inside the same JVM
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    var timed = 0.0
    while (passes.size < 1 + (if (trace) minTimed.max(4) else minTimed) || timed < seconds) {
      val i = passes.size
      val traced = trace && (i == 0 || i % 4 == 2 || i % 4 == 3)
      val p = runPass(spark, workload, i, traced, cores, seed)
      passes += p
      if (i > 0) timed += p.wallS
    }
    Trace.enabled = false

    val result = Json.obj(
      "env" -> Json.obj(
        "cores" -> cores,
        "xmx" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-Xmx")).mkString(" "),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version,
        "seed" -> seed,
        "session_s" -> (tSession - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
        "warmup_s" -> (tWarm - tSession) / 1e3),
      "passes" -> passes.toSeq.map { p =>
        Json.obj(
          "traced" -> p.traced, "wall_s" -> p.wallS, "attempted" -> p.attempted,
          "failed" -> p.failed, "build_s" -> p.buildS,
          "exec_s" -> p.execS, "leaked_rdds" -> p.leakedRdds, "check" -> p.check,
          "queries" -> p.perQuery, "layers" -> p.layers, "failed_queries" -> p.failedQueries)
      },
      "rss_peak_mb" -> vmHwmMb())
    if (trace) {
      val lines = Trace.drainSpans().map { s =>
        Json.render(Json.obj("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
          "trace" -> s.trace))
      }
      Files.write(work.resolve("spans.jsonl"), lines.asJava)
    }
    Files.writeString(work.resolve("result.json"), Json.render(result))
    MemoryServer.drop(storeName)
    spark.stop()
  }

  private def runPass(
      spark: SparkSession, w: Workload, i: Int, traced: Boolean,
      cores: Int, seed: Long): Pass = {
    val gc0 = gcSeconds()
    Trace.traceId = s"$seed-$i"
    Trace.enabled = traced
    val p = Trace.span(s"pass $i", "pass")(w.pass(i))
    Trace.enabled = false
    if (!traced) p
    else {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      p.copy(traced = true, layers = p.layers ++ Trace.snapshot(p.wallS, cores, gcSeconds() - gc0))
    }
  }

  /** Release persisted RDDs and cached relations a query left behind — the
    * same clean-up `Bench` runs between queries — and return how many
    * persisted RDDs there were. Runs outside every timed window.
    */
  def dropLeakedState(spark: SparkSession): Int = {
    val leaked = spark.sparkContext.getPersistentRDDs.values.toSeq
    spark.catalog.clearCache()
    leaked.foreach(_.unpersist(blocking = true))
    leaked.size
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      .getOrElse(-1.0)
}

trait Workload {
  def prepare(): Unit
  def pass(i: Int): Main.Pass
}

/** `SyncApp.run` against the loopback store behind [[SimulatedOds]]; the
  * store is reset to the seeded prefill before each pass, and after each
  * pass the converged store and the run's counts are checked against the
  * expectation computed from the generated input.
  */
final class SyncWorkload(spark: SparkSession, work: Path) extends Workload {
  import Main.storeName

  private val cfg = SyncApp.loadProperties(work.resolve("sync/app.properties"))
  private val expect = Json.parseFlat(Files.readString(work.resolve("expect.json")))
  private val prefill = expect("prefill").asInstanceOf[Seq[Long]]
  private val expectedStore = expect("store").asInstanceOf[Seq[Long]].map(_.toString).toSet
  private def n(k: String) = expect(k).asInstanceOf[Long]
  private val (inner, innerTokens) = SyncApp.wire(cfg)
  private val transport = new SimulatedOds(inner, Main.serviceNs)
  private val tokens = new CountingTokens(innerTokens)

  def prepare(): Unit = reset()

  private def reset(): Unit = {
    MemoryServer.drop(storeName)
    val store = MemoryServer.store(storeName)
    prefill.foreach(k => store.put(k.toString, s"""{"studentUniqueId":$k}"""))
    deleteTree(Paths.get(cfg.outputDir))
  }

  def pass(i: Int): Main.Pass = {
    if (i > 0) reset()
    val ops = n("upserts") + n("deletes")
    val t0 = System.nanoTime()
    val outcome =
      try Right(Trace.span("SyncApp.run", "sync_run")(SyncApp.run(spark, cfg, transport, tokens)))
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val check = outcome match {
      case Left(err) => err
      case Right(s) =>
        val r = s.result
        val stored = MemoryServer.store(storeName).keySet.asScala.toSet
        val problems = Seq(
          Option.when(r.upserts != n("upserts"))(s"upserts ${r.upserts} != ${n("upserts")}"),
          Option.when(r.deletes != n("deletes"))(s"deletes ${r.deletes} != ${n("deletes")}"),
          Option.when(r.quarantined != n("quarantined"))(
            s"quarantined ${r.quarantined} != ${n("quarantined")}"),
          Option.when(r.report.errors.nonEmpty)(s"report errors ${r.report.errors}"),
          Option.when(stored != expectedStore)(
            s"store has ${stored.size} keys, ${(stored -- expectedStore).size} unexpected, " +
              s"${(expectedStore -- stored).size} missing")).flatten
        if (problems.isEmpty) "ok" else problems.mkString("; ")
    }
    val ok = check == "ok"
    val leaked = Main.dropLeakedState(spark)
    val layers = outcome.toOption.map { s =>
      Map("plans.upserts" -> s.result.upserts.toDouble,
        "plans.deletes" -> s.result.deletes.toDouble,
        "plans.quarantined" -> s.result.quarantined.toDouble)
    }.getOrElse(Map.empty)
    Main.Pass(false, wall, ops, if (ok) 0 else ops, 0.0, 0.0, Map.empty, leaked, layers,
      Nil, check)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator.asScala.toSeq.sortBy(-_.getNameCount)
      all.foreach(Files.delete)
    }
}

/** A mix of registered gate queries, each built by its query function and
  * executed through the noop sink.
  */
final class GateWorkload(
    spark: SparkSession, dataDir: String, outputs: Path, queries: Seq[String])
    extends Workload {

  private val fns = queries.map(q => q -> SparkEntry.queries(q)).toMap

  /** The oracle SQL of every query in the mix, next to the outputs. */
  def prepare(): Unit = {
    Files.createDirectories(outputs)
    val oracles = SparkEntry.oracleSql.filter(kv => fns.contains(kv._1))
    Files.writeString(outputs.resolve("oracle_sql.json"), Json.render(Json.obj(oracles.toSeq: _*)))
  }

  def pass(i: Int): Main.Pass = {
    // the order rotates with the pass, the same in every run: a query's
    // cold costs land on whichever query runs first, so a seed-dependent
    // order would add spread between seeds
    val order = queries.drop(i % queries.size) ++ queries.take(i % queries.size)
    var build, exec = 0.0
    var leaked = 0L
    val per = scala.collection.mutable.Map.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    order.foreach { q =>
      val t0 = System.nanoTime()
      try {
        val df = Trace.span(q, "query_call")(fns(q)(spark, dataDir))
        val t1 = System.nanoTime()
        Trace.span(q, "noop_write")(df.write.format("noop").mode("overwrite").save())
        val t2 = System.nanoTime()
        build += (t1 - t0) / 1e9
        exec += (t2 - t1) / 1e9
        per(q) = (t2 - t0) / 1e9
        // the first pass also writes each result for the oracle check,
        // outside the timed window and before the query's pinned state is
        // released (the result frame may read from it)
        if (i == 0) df.coalesce(1).write.mode("overwrite").parquet(outputs.resolve(q).toString)
      } catch {
        case e: Throwable =>
          if (!per.contains(q)) per(q) = (System.nanoTime() - t0) / 1e9
          errors(q) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
      }
      leaked += Main.dropLeakedState(spark)
    }
    val n = queries.size.toLong
    Main.Pass(false, per.values.sum, n, errors.size, build, exec, per.toMap,
      leaked, Map.empty, errors.keys.toSeq,
      if (errors.isEmpty) "ok" else errors.map { case (q, e) => s"$q: $e" }.mkString("; "))
  }
}
