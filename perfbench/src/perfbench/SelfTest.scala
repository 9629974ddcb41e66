package perfbench

/** The benchmark's own tests: seeded generation, the listener's stage
  * accounting, self-time arithmetic and answer comparison.
  *
  * Usage: `SelfTest <scratch dir> <fixture dir> <sf> <cores>`; prints one
  * line per test and exits non-zero if any fails.
  */
object SelfTest {

  private var failed = 0

  private def check(name: String)(body: => Boolean): Unit = {
    val ok = try body catch { case e: Throwable =>
      println(s"  error: ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    if (!ok) failed += 1
    println(s"${if (ok) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val Array(scratch, data, sf, cores) = args
    val spark = Main.session(cores.toInt, scratch)
    Data.ensure(spark, data, sf.toDouble)
    val facts = Facts.read(data)

    Workloads.all.foreach { wl =>
      def take(seed: Long) = wl.cycles(seed, facts).take(3).toList
      check(s"${wl.name}: the same seed gives the same operations") {
        take(7) == take(7)
      }
      check(s"${wl.name}: another seed changes constants, not the template mix") {
        val (a, b) = (take(7), take(8))
        a != b && a.map(_.map(_.kind).sorted) == b.map(_.map(_.kind).sorted) &&
          a.flatten.map(_.kind).distinct.sorted == b.flatten.map(_.kind).distinct.sorted
      }
    }

    check("listener: a multi-stage job's stage count matches the status tracker") {
      val sc = spark.sparkContext
      val tr = new Tracer(sc, "selftest")
      tr.on = true
      tr.op(1, "shuffle") {
        tr.phase("spark.exec") {
          sc.parallelize(1 to 10000, 4).map(x => (x % 97, 1)).reduceByKey(_ + _, 3)
            .map { case (k, v) => (v, k) }.groupByKey(2).count()
        }
      }
      tr.close()
      val jobs = tr.jobsOf(1)
      jobs.size == 1 && tr.incompleteOps.isEmpty && jobs.forall { j =>
        val info = sc.statusTracker.getJobInfo(j.jobId)
        info.exists(_.stageIds.length == j.stages.size) &&
          j.stages.size == 3 && j.desc == "selftest/shuffle#1/spark.exec"
      } && tr.spans.exists(s => s.name == "spark.job" &&
        tr.spans.exists(p => p.id == s.parent && p.name == "spark.exec"))
    }

    check("self time subtracts the union of child intervals") {
      val spans = Seq(Span(1, 0, 1, "op.x", 0, 100), Span(2, 1, 1, "sparql.compile", 10, 40),
        Span(3, 1, 1, "spark.exec", 30, 90), Span(4, 3, 1, "spark.job", 50, 70))
      val self = Trace.selfTimes(spans)
      self(1) == 20 && self(2) == 30 && self(3) == 40 && self(4) == 20 &&
        Trace.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 8, 35) == 17
    }

    check("answers: float drift passes, a different value or row count fails") {
      val a = Answer.of(Seq(Seq("x", 0.1 + 0.2), Seq("y", 1L)))
      Answer.same(a, Answer.of(Seq(Seq("y", 1L), Seq("x", 0.3)))) &&
        !Answer.same(a, Answer.of(Seq(Seq("x", 0.31), Seq("y", 1L)))) &&
        !Answer.same(a, Answer.of(Seq(Seq("x", 0.3))))
    }

    spark.stop()
    if (failed > 0) { println(s"$failed failed"); sys.exit(1) }
    println("all passed")
  }
}
