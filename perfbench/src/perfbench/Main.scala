package perfbench

import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.SparkSession
import graft.Graft
import graft.rdf.{TripleStats, TripleStore}

/** Runs one workload: set-up (session, store build, forced lazy builds,
  * warm-up), a closed loop of seeded operations for a fixed time, then
  * the answer checks. Writes its figures as JSON to `--out`.
  *
  * {{{
  * Main --workload sparql_point --seed 1 --seconds 10 --trace 0
  *      --data <fixture dir> --scratch <dir> --out <result.json>
  *      --cores 4 --heap 7g --sf 0.005 --rev <revision>
  * }}}
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, scratch: String, out: String, cores: Int,
                        heap: String, sf: Double, rev: String)

  /** Store builds per run; `setup_s` takes their median. */
  val SetupReps = 3

  /** Fewest timed operations: the tail is the highest percentile with at
    * least ten samples beyond it, so a run needs eleven.
    */
  val MinOps = 11

  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("scratch"), m("out"), m("cores").toInt, m("heap"), m("sf").toDouble,
      m.getOrElse("rev", "unknown"))
  }

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final case class Sample(op: Op, ms: Double, traced: Boolean,
                          answer: Option[Answer.T], error: Option[String])

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val wl = Workloads.byName(conf.workload).getOrElse {
      System.err.println(s"unknown workload ${conf.workload}; known: " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val t0 = System.nanoTime()
    val spark = session(conf.cores, conf.scratch)
    val sessionS = secs(t0)
    val p0 = System.nanoTime()
    // the fixture and the facts constants are drawn from are benchmark
    // work, not graft's set-up: neither is timed
    Data.ensure(spark, conf.data, conf.sf)
    val facts = Facts.read(conf.data)
    val tracer = new Tracer(spark.sparkContext, wl.name)
    val prepS = secs(p0)
    val ctx = Ctx(spark, conf.data, conf.scratch, tracer,
      () => Graft.triples(spark, conf.data), facts)

    // set-up: cold store build (persist + count) and its stats profile,
    // repeated for a median; then throw-away cycles of every kind
    val builds = (1 to SetupReps).map { _ =>
      TripleStore.triples(spark, conf.data).unpersist(blocking = true)
      TripleStore.evictTriples(spark, conf.data)
      val b0 = System.nanoTime()
      val store = Graft.triples(spark, conf.data)
      store.count()
      TripleStats.forFrame(store)
      secs(b0)
    }
    val storeMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
    val cycles = wl.cycles(conf.seed, facts)
    val w0 = System.nanoTime()
    // warm-up operations are independent throw-aways: run them side by
    // side, one thread per core, then release what they cached
    val warm = (1 to wl.warmCycles).flatMap(_ => cycles.next())
    val pool = Executors.newFixedThreadPool(conf.cores)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(warm)(op => Future(wl.run(ctx, op))), Duration.Inf)
    } finally pool.shutdown()
    wl.between(ctx)
    val warmS = secs(w0)
    val setupS = sessionS + median(builds) + warmS

    // the closed loop: one client, each call waits for its answer; in a
    // traced run each kind alternates traced and untraced operations, half
    // of the kinds starting traced, so both sides see the same mix and
    // the same stretch of the run
    val samples = mutable.ArrayBuffer.empty[Sample]
    val l0 = System.nanoTime()
    var n = 0
    var betweenS = 0.0
    val kinds = mutable.HashMap.empty[String, Int]
    val minCycles = if (conf.trace) math.max(2, wl.minCycles) else wl.minCycles
    while (n < minCycles || samples.size < MinOps || secs(l0) < conf.seconds) {
      cycles.next().foreach { op =>
        val k = kinds.getOrElseUpdate(op.kind, kinds.size)
        val traced = conf.trace && (samples.count(_.op.kind == op.kind) + k) % 2 == 0
        tracer.on = traced
        val s0 = System.nanoTime()
        val res = try Right(tracer.op(op.id, op.kind)(wl.run(ctx, op)))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val ms = (System.nanoTime() - s0) / 1e6
        samples += Sample(op, ms, traced, res.toOption, res.left.toOption)
        val b0 = System.nanoTime()
        wl.between(ctx)
        betweenS += secs(b0)
      }
      n += 1
    }
    val loopS = secs(l0)
    tracer.on = false
    tracer.close()

    // answer checks, none routed through graft
    val c0 = System.nanoTime()
    Data.registerViews(spark, conf.data)
    val expected = wl.expected(ctx, facts, samples.map(_.op).toSeq)
    val checkS = secs(c0)
    // a thrown call, a wrong answer or an empty one where rows are
    // expected (a row-count mismatch) all fail
    val failures = samples.filterNot(s => s.answer.exists(Answer.same(_, expected(s.op.id))))
    failures.take(5).foreach { s =>
      System.err.println(s"[perfbench] wrong answer: ${s.op.kind}#${s.op.id} " +
        s.error.getOrElse(s"got ${s.answer.get.take(3)} expected ${expected(s.op.id).take(3)}"))
    }
    val s0 = System.nanoTime()
    spark.stop()
    val stopS = secs(s0)

    val untraced = samples.filterNot(_.traced)
    val timed = if (conf.trace) samples.toSeq else untraced.toSeq
    val lat = timed.map(_.ms).sorted
    val tailIdx = lat.size - 11
    val tailPct = 100.0 * (lat.size - 10) / lat.size
    val opsPerS = untraced.size / (untraced.map(_.ms).sum / 1000)
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> conf.seed, "sf" -> conf.sf, "cores" -> conf.cores,
      "heap" -> conf.heap, "rev" -> conf.rev, "trace" -> conf.trace,
      "attempted" -> samples.size, "failed" -> failures.size,
      "error_rate" -> failures.size.toDouble / samples.size,
      "cycles" -> n, "jvm_s" -> jvmS, "session_s" -> sessionS, "prep_s" -> prepS,
      "store_build_s" -> builds, "warmup_s" -> warmS, "loop_s" -> loopS,
      "between_s" -> betweenS, "check_s" -> checkS, "stop_s" -> stopS,
      "tail_percentile" -> tailPct, "tail_samples" -> lat.size,
      "kinds" -> Report.kinds(timed),
      "latency_ms" -> samples.map(s => s"${s.op.kind}:${math.round(s.ms)}"))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!conf.trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_ms") = (median(lat), "ms")
      metrics("op_tail_ms") = (lat(tailIdx), "ms")
      metrics("ops_per_s") = (opsPerS, "1/s")
      metrics("store_mb") = (storeMb, "MB")
    } else {
      metrics ++= Report.layers(tracer, samples.toSeq, conf.cores, median(builds))
      report("spans") = tracer.spans.size
      report("layers_by_kind") = Report.layersByKind(tracer, samples.toSeq, conf.cores)
    }
    Report.write(conf.out, failures.isEmpty, samples.size, failures.size, metrics, report)
    if (conf.trace)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(conf.out + ".spans.json"),
        Trace.json(tracer.spans.toSeq))
  }
}
