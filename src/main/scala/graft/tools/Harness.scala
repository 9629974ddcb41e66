package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.col

import graft.SparkEntry

/** The one session factory and measurement harness. `Bench`, `Verify`
  * and `GenData` build their sessions here; the modes of [[main]] are
  * the developer tools:
  *
  * {{{
  * runMain graft.tools.Harness medians <k1,k2|bench|soak|@sweep.json> [reps] [sfDir]
  * runMain graft.tools.Harness profile <key> [sfDir] [warmups]
  * runMain graft.tools.Harness plan <k1,k2> [sfDir] [outDir suffix]
  * runMain graft.tools.Harness rows <key> [sfDir] [n]
  * }}}
  *
  * `sfDir` defaults to SPARK_GRAFT_SF_DIR. Same-code timings on a shared
  * box swing up to 3× run to run, so tune from `medians`, never from a
  * single sweep reading.
  */
object Harness {

  /** Worker threads: SPARK_GRAFT_CPUS, else every core the JVM sees. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `local[cores]` with one shuffle partition per core, UTC, no UI and
    * WARN logging. Local test files are tiny, so scans split at 8 MB to
    * give map-side stages every core (cluster deployments keep the
    * default).
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every cache, graph and checkpoint the last query left behind;
    * call once its result is consumed, never mid-flight. `blocking`
    * waits for the checkpoint blocks to go, so one rep's async removals
    * cannot push the next rep's checkpoints into disk spills.
    */
  def release(blocking: Boolean = false): Unit = {
    graft.pipeline.Dedup.releaseCaches()
    graft.graphx.Analytics.releaseCaches()
    graft.Checkpoints.releaseCaches(blocking)
  }

  /** Seconds to run `key` into the noop sink, which materializes every
    * output column (count() would let Catalyst prune the expressions
    * under test). The key's state is released after, outside the timing
    * and blocking, so no removal backlog spills into the next run.
    */
  def runKey(spark: SparkSession, sfDir: String, key: String): Double = {
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(key)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally release(blocking = true)
  }

  /** One representative per heavy family, for scale soaks: store build,
    * dedup exact/banded/minhash, ANN, events, curriculum sampling,
    * GraphX CC and SCC, sameAs closure, sketches, BM25, the weighted
    * wedge join, and the corpus-gram and embedding sweeps.
    */
  val soakKeys: Seq[String] = Seq(
    "q1_agg", "rdf_build_triples", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_ngram_jaccard_gated",
    "ann_pq_topk", "events_window_agg", "data_curriculum",
    "graph_connected_components", "infer_sameas_canon",
    "sketch_hll_distinct", "text_bm25_topk",
    "dedup_dup_spans", "dedup_paragraphs", "graph_scc",
    "sketch_hll_overlap", "q_window_share", "text_window_cooc",
    "graph_resource_alloc", "data_split_contamination",
    "dedup_shingle_df_profile", "dedup_embedding_sweep")

  /** The `{"key":sec,...}` pairs of the "queries" object of a `Bench`
    * JSON line, without a JSON library (keys are benchmark names, never
    * containing quotes or braces).
    */
  private[tools] def parseQueries(json: String): Seq[(String, Double)] = {
    val start = json.indexOf("\"queries\":{")
    require(start >= 0, "no \"queries\" object in bench JSON")
    val body = json.substring(start + "\"queries\":{".length,
      json.indexOf('}', start))
    """"([^"]+)":(-?[0-9.]+(?:[eE][-+]?[0-9]+)?)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
  }

  /** The sweep keys worth re-measuring, heaviest first: every key over
    * 2 s (where box noise moves verdicts), else the 8 heaviest, so a
    * fast small-SF sweep still yields medians. Failed keys (-1) drop.
    */
  private[tools] def heaviest(sweep: Seq[(String, Double)]): Seq[(String, Double)] = {
    val ranked = sweep.filter(_._2 >= 0).sortBy(-_._2)
    val over = ranked.takeWhile(_._2 > 2.0)
    if (over.nonEmpty) over else ranked.take(8)
  }

  /** The keys `medians` runs, each with its sweep reading when picked
    * from a sweep JSON (`@path`).
    */
  private[tools] def medianKeys(spec: String): Seq[(String, Option[Double])] =
    spec match {
      case "bench" => SparkEntry.benchQueries.map(_ -> None)
      case "soak" => soakKeys.map(_ -> None)
      case s if s.startsWith("@") =>
        heaviest(parseQueries(Files.readString(Paths.get(s.drop(1)))))
          .map { case (k, sec) => k -> Some(sec) }
      case s => s.split(',').toSeq.filter(_.nonEmpty).map(_ -> None)
    }

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(200)

  private def withSession(f: SparkSession => Unit): Unit = {
    val spark = session()
    try f(spark) finally spark.stop()
  }

  /** Warm medians of each key. The JVM is warmed and the store plus both
    * scratch layouts built before any timing (that cost is reported on
    * its own line, not charged to the first key); reps interleave across
    * keys, so a slow stretch of the box spreads over every key instead of
    * landing on all reps of one.
    */
  private def medians(spec: String, reps: Int, sfDir: String): Unit =
    withSession { spark =>
      val keys = medianKeys(spec)
      spark.range(1000000).selectExpr("sum(id)").collect()
      val w0 = System.nanoTime()
      try {
        graft.rdf.TripleStore.triples(spark, sfDir).count()
        graft.rdf.TripleStore.partitionedTriples(spark, sfDir)
        graft.rdf.TripleStore.bucketedTriples(spark, sfDir)
      } catch { case e: Throwable =>
        System.err.println(s"[medians] store warm-up failed: ${message(e)}")
      }
      val warmupSec = (System.nanoTime() - w0) / 1e9
      println(f"[medians] warm-up (store build + layouts) $warmupSec%.1f s")
      val runs = mutable.LinkedHashMap(
        keys.map(_._1 -> mutable.ArrayBuffer.empty[Double]): _*)
      val errors = mutable.LinkedHashMap.empty[String, String]
      for (_ <- 1 to reps; (key, _) <- keys if !errors.contains(key)) {
        // rdf_build_triples measures the cold store derivation; every
        // other key reads the store warm
        if (key == "rdf_build_triples")
          try graft.rdf.TripleStore.evictTriples(spark, sfDir)
          catch { case _: Throwable => () }
        try runs(key) += runKey(spark, sfDir, key)
        catch { case e: Throwable => errors(key) = message(e) }
      }
      val rows = keys.flatMap { case (key, sweep) =>
        val rs = runs(key).sorted
        if (rs.isEmpty) {
          println(s"[medians] $key FAILED: ${errors(key)}")
          None
        } else {
          val median = rs(rs.length / 2)
          println(s"[medians] $key " +
            sweep.fold("")(s => f"sweep=$s%.2f ") + f"median=$median%.2f " +
            s"runs=${rs.map(t => f"$t%.2f").mkString(",")}")
          Some(s""""${esc(key)}":{""" + sweep.fold("")(s => s""""sweep":$s,""") +
            s""""median":$median,"runs":[${rs.map(t => f"$t%.3f").mkString(",")}]}""")
        }
      }
      val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
      val line = s"""{"metric":"bench_medians","sf":"${esc(sfDir)}","reps":$reps,""" +
        f""""warmup_sec":$warmupSec%.1f,"keys":{${rows.mkString(",")}},""" +
        s""""errors":{${es.mkString(",")}},"n_err":${errors.size}}"""
      println(line)
      try Files.writeString(Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_MEDIANS_OUT", "bench_medians_latest.json")), line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[medians] artifact write failed: ${message(e)}")
      }
    }

  /** Per-stage wall time, tasks and input/shuffle volumes of one warm
    * run of `key`: the Spark UI's "which stage is slow" answer, as text.
    * The stage count is checked against the status tracker's count of
    * stages submitted by the run's jobs.
    */
  private def profile(key: String, sfDir: String, warmups: Int): Unit =
    withSession { spark =>
      val sc = spark.sparkContext
      (1 to warmups).foreach(_ => runKey(spark, sfDir, key))
      final case class St(id: Int, name: String, ms: Long, tasks: Int,
                          inMb: Double, srMb: Double, swMb: Double)
      val stages = mutable.ArrayBuffer.empty[St]
      val listener = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
          val si = e.stageInfo
          val m = si.taskMetrics
          val st = St(si.stageId, si.name.takeWhile(_ != '\n').take(90),
            (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
              .getOrElse(-1L),
            si.numTasks, m.inputMetrics.bytesRead / 1e6,
            (m.shuffleReadMetrics.remoteBytesRead +
              m.shuffleReadMetrics.localBytesRead) / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
          stages.synchronized(stages += st)
        }
      }
      // the bus delivers events asynchronously: drain it before adding
      // the listener (no warm-up stage may land in the profile) and
      // before reading (the run's trailing stages must not be dropped)
      def drain(): Unit = if (!ListenerBusDrain.waitUntilEmpty(sc, 10000))
        System.err.println("[profile] listener bus did not drain in 10 s")
      drain()
      sc.addSparkListener(listener)
      val group = s"profile-$key"
      sc.setJobGroup(group, key)
      val sec = try runKey(spark, sfDir, key) finally sc.clearJobGroup()
      drain()
      sc.removeSparkListener(listener)
      val seen = stages.synchronized(stages.toList)
      val st = sc.statusTracker
      val tracked = st.getJobIdsForGroup(group).toSeq.flatMap(st.getJobInfo)
        .flatMap(_.stageIds).distinct
        .count(id => st.getStageInfo(id).exists(_.submissionTime > 0))
      println(f"[profile] $key total=$sec%.3f s, ${seen.size} stages " +
        s"(statusTracker: $tracked)")
      seen.sortBy(-_.ms).take(25).foreach { s =>
        println(f"[profile] ${s.ms}%7d ms  ${s.tasks}%4d tasks  " +
          f"in=${s.inMb}%8.1f MB  sr=${s.srMb}%8.1f MB  sw=${s.swMb}%8.1f MB  " +
          s"stage ${s.id} ${s.name}")
      }
      println(s"[profile] stage-ms sum=${seen.map(_.ms).sum}")
    }

  /** `explain("formatted")` of each key: printed, or written to
    * `<outDir>/<key>_<suffix>.txt` for committed plan evidence.
    */
  private def plan(keys: Seq[String], sfDir: String,
                   out: Option[(String, String)]): Unit = withSession { spark =>
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    keys.foreach { k =>
      try {
        val txt = SparkEntry.queries(k)(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        out match {
          case Some((dir, suffix)) =>
            val p = Paths.get(dir, s"${k}_$suffix.txt")
            Files.writeString(p, txt)
            println(s"[plan] wrote $p")
          case None => println(s"===== $k =====\n$txt")
        }
      } catch { case e: Throwable => println(s"[plan] $k FAILED: ${message(e)}") }
      finally release()
    }
  }

  /** The first `n` rows of `key`, sorted on every column, and its row
    * count: the fast local counterpart of a full Verify + oracle pass.
    */
  private def rows(key: String, sfDir: String, n: Int): Unit =
    withSession { spark =>
      try {
        val df = SparkEntry.queries(key)(spark, sfDir)
        df.orderBy(df.columns.sorted.map(col): _*).show(n, truncate = false)
        println(s"rows=${df.count()}")
      } finally release()
    }

  private def usage(why: String): Nothing = {
    System.err.println(s"[harness] $why\nusage: Harness " +
      "medians <k1,k2|bench|soak|@sweep.json> [reps] [sfDir] | " +
      "profile <key> [sfDir] [warmups] | " +
      "plan <k1,k2> [sfDir] [outDir suffix] | rows <key> [sfDir] [n]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    def sfDir(i: Int): String = args.lift(i)
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(usage("no sfDir given and SPARK_GRAFT_SF_DIR is unset"))
    def int(i: Int, default: Int): Int = args.lift(i).fold(default)(_.toInt)
    if (args.length < 2) usage("missing mode or keys")
    args(0) match {
      case "medians" => medians(args(1), int(2, 3), sfDir(3))
      case "profile" => profile(args(1), sfDir(2), int(3, 1))
      case "plan" =>
        plan(args(1).split(',').toSeq, sfDir(2), args.lift(3).zip(args.lift(4)))
      case "rows" => rows(args(1), sfDir(2), int(3, 50))
      case m => usage(s"unknown mode $m")
    }
  }
}
