package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload: set-up (timed several times),
  * one cold pass, then warm passes of the workload's operations, back to
  * back from this one thread (a closed loop with one client): one
  * settling pass, then the measured ones: a workload's fixed number, or
  * else one per 5 s of `--seconds` and at least three. The count never
  * depends on how fast the program runs.
  * Writes every figure to `--out` as JSON; `run.py` turns that into the
  * benchmark's result line.
  *
  * With `--trace 1` every pass is traced, the cold one too (for codegen);
  * `run.py` compares the traced process with an untraced one of the same
  * seed for `trace.overhead_frac`. */
object Main {

  final case class Exec(pass: Int, index: Int, name: String, family: String,
      write: Boolean, secs: Double, ok: Boolean, spanOp: Long, digest: Option[Digest]) {
    def key: String = s"$pass:$index"
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val maxWarm = a.get("max-warm").map(_.toInt).getOrElse(Int.MaxValue)
    val setupReps = a.get("setup-reps").map(_.toInt).getOrElse(3)
    val dumpOracle = a.get("oracle").forall(_ == "1")
    val cpus = Runtime.getRuntime.availableProcessors()

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Engine.tune(spark)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val createdS = (System.currentTimeMillis() - jvmStart) / 1e3
    graft.SparkEntry.queries("q_gold_agg")(spark, a("data")).count()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, a("data"), work, seed, tracer)
    val wl = Workloads(workloadName, ctx)

    def clearAll(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val setups = (1 to setupReps).map(_ => { val t = timed(wl.setup()); clearAll(); t })
    tracer.foreach(_.install())

    val failures = mutable.ArrayBuffer.empty[String]
    val execs = mutable.ArrayBuffer.empty[Exec]
    val digests = mutable.Map.empty[Int, Digest]

    def runPass(pass: Int): Unit =
      wl.ops(pass).zipWithIndex.foreach { case (op, i) =>
        val h = tracer.map(_.beginOp())
        val t0 = System.nanoTime()
        def attempt(f: => Digest): Either[String, Digest] =
          try Right(f)
          catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val timedResult = attempt(op.run())
        val secs = (System.nanoTime() - t0) / 1e9
        h.foreach(x => tracer.get.endOp(x, op.name, pass))
        val result = timedResult.flatMap(d => attempt { op.check(d); d })
        val ok = result match {
          case Left(msg) =>
            failures += s"pass $pass ${op.name}: $msg"; false
          case Right(d) => digests.get(i).filter(_ => wl.repeatable) match {
            case Some(prev) if prev != d =>
              failures += s"pass $pass ${op.name}: result $d differs from $prev"; false
            case _ => digests(i) = d; true
          }
        }
        execs += Exec(pass, i, op.name, op.family, op.write, secs, ok, h.fold(-1L)(_._1),
          result.toOption)
        clearAll()
      }

    runPass(0)
    // Pass 1 settles (the JIT is still compiling the warm paths; it runs
    // and is checked but gives no samples). Then the measured passes, as
    // many for every build and seed, so a faster program gets no more
    // samples of a still-warming JVM; at least three, so every warm median
    // is the middle of three or more samples.
    val measured = wl.measuredPasses.getOrElse(math.max(3, math.round(seconds / 5).toInt))
    var pass = 1
    while (pass <= maxWarm && pass <= SettlePasses + measured) {
      System.gc()
      runPass(pass)
      pass += 1
    }
    val endStats = if (trace) wl.endStats else Map.empty[String, Double]
    val finishFailures = wl.finish()
    failures ++= finishFailures
    tracer.foreach(_.uninstall())

    val oracleDir = s"$work/oracle"
    val oracleSql = wl.oracle.filter(_ => dumpOracle).map { n =>
      graft.SparkEntry.queries(n)(spark, ctx.data).write.mode("overwrite").parquet(s"$oracleDir/$n")
      n -> graft.SparkEntry.oracleSql(n)
    }.toMap

    // the ContextCleaner frees broadcasts and shuffles asynchronously once
    // a collection has found them unreachable: collect until it is done
    clearAll()
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val report = Report(execs.toSeq, tracer.map(_.all).getOrElse(Nil), endStats,
      sessionS + median(setups), heapMb, wl)
    val failedKeys = execs.filterNot(_.ok).map(_.key) ++
      (if (finishFailures.nonEmpty) Seq("finish") else Nil)
    val json = Json.obj(
      "workload" -> workloadName,
      "seed" -> seed,
      // the end-of-run checks count as one more operation
      "attempted" -> (execs.size + 1),
      "failed_keys" -> failedKeys.toSeq,
      "failures" -> failures.toSeq,
      "warm_passes" -> (pass - 1),
      "pass_s" -> execs.groupBy(_.pass).toSeq.sortBy(_._1).map(_._2.map(_.secs).sum),
      "session_s" -> sessionS,
      "session_created_s" -> createdS,
      "setup_reps_s" -> setups,
      "inputs" -> wl.inputs,
      "end_to_end" -> report.endToEnd,
      "per_layer" -> (if (trace) report.perLayer else Map.empty[String, Double]),
      "tail" -> report.tail,
      "ops" -> report.perOp,
      "counters" -> (if (trace) report.counterTable else Nil),
      "repeat_mismatches" -> (if (trace) report.repeatMismatches.map(e =>
        Map("key" -> e.key, "op" -> e.name)) else Nil),
      "digests" -> execs.flatMap(e => e.digest.map(d => Map("pass" -> e.pass, "index" -> e.index,
        "op" -> e.name, "rows" -> d.rows, "hash" -> d.hash))),
      "oracle_sql" -> oracleSql)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    tracer.foreach { t =>
      val lines = t.all.map(s => Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start" -> s.start, "end" -> s.end, "vals" -> s.vals))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/trace.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }

  val SettlePasses = 1

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => render(other.toString)
  }
}
