package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Settings of one run; `perfbench/run.py` passes them all. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, inputs: String, work: String,
    expected: String, spans: String, cpus: Int, lstm: (Int, Int, Int, Int),
    record: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val Array(st, hd, ep, pa) = get("lstm").split(",").map(_.trim.toInt)
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("data"), get("inputs"), get("work"),
      get("expected"), get("spans"), get("cpus").toInt, (st, hd, ep, pa),
      get("record"))
  }
}

/** Timings and counters of one executed op. */
final case class OpResult(name: String, group: String, seconds: Double,
    value: Option[Any], error: Option[String], stats: Map[String, Double])

/** One pass over a workload's ops. `seconds` is the sum of the ops'
  * timed regions; `wallSeconds` is the whole pass, with the isolation
  * cleanup, output checks and trace bookkeeping between ops. `compiles`
  * counts the Janino compiles of the pass, traced or not. */
final case class PassResult(index: Int, traced: Boolean, seconds: Double,
    wallSeconds: Double, ops: Seq[OpResult], spanId: Long, compiles: Long)

object Main {
  /** Warm passes a run makes at least, and traced warm passes a traced
    * run makes at least, whatever the run length. One keeps a pipeline
    * run, cold pass and warm pass, within its time limit. */
  val MinWarm = 1

  private def now(): Double = System.nanoTime() / 1e9
  private def epochMs(): Double = System.currentTimeMillis().toDouble

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/local")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The cleanup `graft.Bench` runs between queries, plus stopping any
    * stream a row left running and dropping its `stream_*` views. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    try spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("stream_"))
      .foreach(t => spark.catalog.dropTempView(t.name))
    catch { case _: Throwable => () }
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val workload = Workloads(a.workload, a)
    val out = new Output(a)

    // Set-up: from JVM start to a session with GraftExtensions and the
    // workload's inputs resolved.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = session(a)
    workload.resolveInputs(spark)
    val setup = (epochMs() - jvmStartMs) / 1000.0
    out.info(f"setup: $setup%.3f s from JVM start")

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val runSpan = tracer.map(_.newId()).getOrElse(0L)
    val runStart = epochMs()
    var failures = 0
    var attempted = 0

    def runPass(index: Int, traced: Boolean, ops: Seq[Op], kind: String): PassResult = {
      // A full collection before the pass, outside every timed region, so
      // that no pass pays for the garbage of the one before it.
      System.gc()
      val tr = tracer.filter(_ => traced)
      tr.foreach(_.attach())
      val passSpan = tr.map(_.newId()).getOrElse(0L)
      val passStart = epochMs()
      val passCompiles = Codegen.compiles
      val results = ops.map { op =>
        val opSpan = tr.map(_.newId()).getOrElse(0L)
        val group = s"pass$index:${op.name}"
        spark.sparkContext.setJobGroup(group, s"${op.group}.${op.name}", interruptOnCancel = false)
        val ctx = tr.map(_.begin(opSpan, group))
        val (r0, w0) = if (traced) ProcIo.counters() else (0L, 0L)
        val c0 = Codegen.compiles
        val startMs = epochMs()
        val t0 = now()
        val res = try Right(op.run()) catch { case e: Throwable => Left(e) }
        val dt = now() - t0
        val endMs = epochMs()
        val c1 = Codegen.compiles
        val (r1, w1) = if (traced) ProcIo.counters() else (0L, 0L)
        spark.sparkContext.clearJobGroup()
        val stats = ctx.map { c =>
          tr.get.end(c)
          c.stats.add("driver.codegen_compiles", (c1 - c0).toDouble)
          c.stats.add("io.read_mb", (r1 - r0) / 1048576.0)
          c.stats.add("io.write_mb", (w1 - w0) / 1048576.0)
          tr.get.record(Span(opSpan, passSpan, "op", s"${op.group}.${op.name}", startMs, endMs))
          c.stats.snapshot
        }.getOrElse(Map.empty)
        // After the op's counters are closed, so that the cleanup's own
        // queries and stream stops are charged to no op.
        if (workload.isolateEachOp) isolate(spark)
        val error = res match {
          case Left(e) => Some(s"${op.name}: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ").take(300))
          case Right(v) => try op.check(v) catch {
            case e: Throwable => Some(s"${op.name}: check failed: ${e.getMessage}")
          }
        }
        attempted += 1
        error.foreach { m => failures += 1; out.info(s"FAILED $m") }
        out.info(f"  $kind pass $index ${op.group}.${op.name} $dt%.3f s")
        OpResult(op.name, op.group, dt, res.toOption, error, stats)
      }
      if (!workload.isolateEachOp) isolate(spark)
      tr.foreach(_.detach())
      val passEnd = epochMs()
      tr.foreach(_.record(Span(passSpan, runSpan, "pass", s"$kind $index", passStart, passEnd)))
      val opTime = results.map(_.seconds).sum
      out.info(f"$kind pass $index${if (traced) " (traced)" else ""}: $opTime%.3f s in ops, " +
        f"${(passEnd - passStart) / 1000}%.3f s wall")
      PassResult(index, traced, opTime, (passEnd - passStart) / 1000, results, passSpan,
        Codegen.compiles - passCompiles)
    }

    val cold = runPass(0, traced = false, workload.pass(spark), "cold")
    val warm = mutable.ArrayBuffer[PassResult]()
    val warmStart = now()
    // Warm passes until they have taken the run length (`--seconds`), at
    // least MinWarm of them: two board passes of about 6 s, one pipeline
    // pass of about 16 s. Traced runs alternate traced and untraced warm
    // passes, traced first (T U), which keeps a traced pipeline run well
    // inside its time limit. The untraced pass then also gains from the
    // JIT's speed-up between passes, so the measured tracing overhead is
    // an upper bound.
    def enough: Boolean = {
      val traced = warm.count(_.traced)
      warm.size - traced >= MinWarm && (!a.trace || traced >= MinWarm) &&
        now() - warmStart >= a.seconds
    }
    while (!enough) {
      val traced = a.trace && warm.size % 2 == 0
      warm += runPass(warm.size + 1, traced, workload.pass(spark), "warm")
    }
    val hashOps = workload.hashOps(spark)
    val hashes = if ((a.trace || a.record.nonEmpty) && hashOps.nonEmpty)
      Some(runPass(warm.size + 1, traced = false, hashOps, "hash"))
    else None
    tracer.foreach(t => t.record(Span(runSpan, 0, "run", a.workload, runStart, epochMs())))

    if (a.record.nonEmpty) workload match {
      case b: BoardWorkload =>
        val counts = cold.ops.map(o => o.name -> o.value).toMap
        val hs = hashes.get.ops.map(o => o.name -> o.value).toMap
        out.info(s"recording ${b.rowNames.size} rows to ${a.record}")
        Expected.write(a.record, Expected.load(a.record).toSeq ++ b.rowNames.map { n =>
          n -> Expected(counts(n).map(_.asInstanceOf[Long]).getOrElse(-1L),
            hs(n).map(_.toString).getOrElse(""))
        })
      case _ => ()
    }

    val peakRss = ProcIo.peakRssMb()
    out.result(setup, cold, warm.toSeq, peakRss, attempted, failures,
      tracer.map(_.allSpans).getOrElse(Nil))
    try spark.stop() catch { case e: Throwable => System.err.println(s"stop: ${e.getMessage}") }
    System.exit(0)
  }
}
