package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.SparkEntry
import graft.geonames.GeoNames
import graft.sources.Tables

/** Benchmark process: one SparkSession on `local[cores]`, one client in a
  * closed loop (each op starts when the previous one has finished).
  *
  *   run      --workload W --seed S --seconds T --trace 0|1 --cores N
  *            --work DIR (--data DIR --expected FILE | --rows R --proxy-rows P)
  *   record   --tables DIR --out FILE --cores N --work DIR [--verified DIR]
  *   generate --seed S --rows R --out DIR
  *
  * `run` prints one line `PERFBENCH_RESULT {json}` last; perfbench/run.py
  * builds this program, launches it and turns that line into the
  * benchmark's result.
  */
object Main {

  final case class Metric(name: String, value: Double, unit: String)

  final class Args(args: Array[String]) {
    private val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("run")
    val a = new Args(argv.drop(1))
    if (mode == "generate") {
      val d = GeoGen.write(a("seed").toLong, a("rows").toInt, a("out"))
      println(s"PERFBENCH_GENERATED ${d.expected}")
      return
    }
    val cores = a("cores").toInt
    val spark = session(cores, a("work"))
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try mode match {
      case "run" =>
        val ctx = new Run(spark, a, sessionS)
        val out = a("workload") match {
          case "geonames_dump" => ctx.geonames()
          case "surface" => ctx.surface()
          case w => sys.error(s"unknown workload $w")
        }
        println("PERFBENCH_RESULT " + out)
      case "record" => record(spark, a)
      case m => sys.error(s"unknown mode $m")
    } finally spark.stop()
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Linear-interpolated quantile; 0 for no samples (the run is then
    * reported as incorrect anyway).
    */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))

  /** Runs every surface member on `tables` twice, in opposite orders and
    * on two stagings, and writes the (rows, hash) of each query whose two
    * results agree. With `--verified`, the output directory of `graft.Verify`
    * over the same tables, each recorded result must also hash the same as
    * Verify's parquet dump of that query, which tools/local_verify.py
    * compares against the DuckDB oracle.
    */
  private def record(spark: SparkSession, a: Args): Unit = {
    val queries = Surface.groups.flatten
    def pass(order: Seq[(String, Surface.Query)], dir: String) =
      order.map { case (n, fn) =>
        val r = try Some(Surface.execute(fn(spark, dir)))
        catch { case e: Throwable =>
          System.err.println(s"[record] $n failed: $e"); None
        }
        SparkEntry.releaseDeadCheckpoints(spark)
        n -> r
      }.toMap
    val first = pass(queries, Surface.stage(a("tables"), s"${a("work")}/record-1"))
    val second = pass(queries.reverse, Surface.stage(a("tables"), s"${a("work")}/record-2"))
    val stable = queries.map(_._1).flatMap { n =>
      (first(n), second(n)) match {
        case (Some(x), Some(y)) if x == y => Some((n, x._1, x._2))
        case (x, y) => System.err.println(s"[record] $n unstable: $x vs $y"); None
      }
    }
    Files.writeString(Paths.get(a("out")), Surface.formatExpected(stable))
    println(s"PERFBENCH_RECORDED ${stable.size} of ${queries.size}")
    a.get("verified").foreach { d =>
      val differ = stable.filter { case (n, rows, hash) =>
        val p = Paths.get(d, n)
        !Files.isDirectory(p) || Surface.execute(spark.read.parquet(p.toString)) != ((rows, hash))
      }.map(_._1)
      println(s"PERFBENCH_VERIFIED ${stable.size - differ.size} of ${stable.size}")
      if (differ.nonEmpty)
        sys.error(s"recorded results differ from the Verify dump in $d: ${differ.mkString(", ")}")
    }
  }

  /** One benchmark run of one workload. */
  final class Run(spark: SparkSession, a: Args, sessionS: Double) {
    private val seed = a("seed").toLong
    private val seconds = a("seconds").toDouble
    private val traced = a("trace") == "1"
    private val cores = a("cores").toInt
    private val work = a("work")
    private val sc = spark.sparkContext
    private val spans = new Spans
    private val listener = new GroupListener
    private var attempted = 0
    private var failed = 0
    private var checksOk = true
    private val notes = mutable.ArrayBuffer.empty[String]
    private val setupRounds = 3

    private def now = System.nanoTime()

    private def fail(msg: String): Unit = { notes += msg; System.err.println(s"[perfbench] $msg") }

    /** `body`'s result and wall seconds. */
    private def timed[T](body: => T): (T, Double) = {
      val t0 = now
      val r = body
      (r, (now - t0) / 1e9)
    }

    private def group[T](g: String)(body: => T): T = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

    private def counters(groups: Seq[String]): Counters = {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      val c = new Counters
      groups.foreach(g => c += listener.group(g))
      c
    }

    private def result(metrics: Seq[Metric], extra: Seq[Metric]): String = {
      val correct = checksOk && failed == 0
      (metrics ++ extra).foreach(m => println(f"[perfbench] ${m.name} = ${m.value} ${m.unit}"))
      notes.foreach(n => println(s"[perfbench] note: $n"))
      val ms = metrics.map(m => s""""${m.name}": {"value": ${m.value}, "unit": "${m.unit}"}""")
        .mkString("{", ", ", "}")
      s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
    }

    /** JVM start to session ready, plus the median set-up round, plus the
      * untimed warm-up pass.
      */
    private def setupMetric(rounds: Seq[Double], warmUp: Double): Metric = {
      println(f"[perfbench] session $sessionS%.3f s, set-up rounds " +
        rounds.map(r => f"$r%.3f").mkString(" ") + f" s, warm-up $warmUp%.3f s")
      Metric("setup_s", sessionS + median(rounds) + warmUp, "s")
    }

    private def writeTrace(name: String, records: Seq[String]): Unit = {
      val dir = Paths.get(work).getParent.resolve("traces")
      Files.createDirectories(dir)
      val lines = spans.all.map(s =>
        s"""{"span": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "op": "${s.op}", """ +
          s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""") ++ records
      Files.write(dir.resolve(s"$name-seed$seed.jsonl"), lines.asJava)
    }

    /** Collection time of every collector in this process: in local mode
      * the tasks share the process's heap.
      */
    private def gcSeconds(): Double =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

    private def execMetrics(c: Counters, execS: Double, gcS: Double,
                            perPass: Double): Seq[Metric] = Seq(
      Metric("exec.s", execS, "s"),
      Metric("exec.jobs", c.jobs / perPass, "count"),
      Metric("exec.stages", c.stages / perPass, "count"),
      Metric("exec.tasks", c.tasks / perPass, "count"),
      Metric("exec.task_s", c.taskMs / 1e3 / perPass, "s"),
      Metric("exec.sched_delay_s", c.schedDelayMs / 1e3 / perPass, "s"),
      Metric("exec.gc_s", gcS, "s"),
      Metric("exec.core_util", if (execS > 0) c.taskMs / 1e3 / perPass / (execS * cores) else 0,
        "ratio"))

    private def ioMetrics(c: Counters, perPass: Double): Seq[Metric] = Seq(
      Metric("shuffle.write_mb", c.shuffleWriteBytes / 1e6 / perPass, "MB"),
      Metric("shuffle.read_mb", c.shuffleReadBytes / 1e6 / perPass, "MB"),
      Metric("shuffle.spill_mb", c.spillBytes / 1e6 / perPass, "MB"),
      Metric("io.input_mb", c.inputBytes / 1e6 / perPass, "MB"),
      Metric("io.output_mb", c.outputBytes / 1e6 / perPass, "MB"))

    // ------------------------------------------------------- geonames

    /** The GeoNames layer, each public function timed as its own executed
      * call over `dump`, plus the sink and the scan count of the envelope
      * plan.
      */
    private def geonamesLayer(dump: GeoGen.Dump, bytesRead: Double): Seq[Metric] = {
      val cfg = dump.config
      def run(name: String)(df: => DataFrame) = group(s"layer/$name") {
        spans(s"geonames.$name", "layer") {
          val d = df
          Surface.execute(d)
          d
        }
      }
      val (places, a1, a2) = readers(dump)
      run("scan")(places)
      run("pits")(GeoNames.pits(places, cfg))
      run("relations")(GeoNames.relations(places, a1, a2, cfg))
      val env = run("envelopes")(GeoNames.envelopes(places, a1, a2, cfg))
      val scans = leaves(env.queryExecution.executedPlan).count {
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.exists(_.toString.endsWith("allCountries.txt"))
        case _ => false
      }
      // the sink, in one call: the envelope frame consumed without output,
      // then written as `transform` writes it; the write's extra time is
      // the sink's. Median of three such pairs.
      val sinkS = median(group("layer/sink")(spans("geonames.sink", "layer") {
        (1 to 3).map { i =>
          val (_, consumeS) = timed(env.queryExecution.toRdd.foreach(_ => ()))
          val out = s"$work/geo-sink-$i"
          val (_, writeS) = timed(env.write.mode("overwrite").text(out))
          deleteTree(Paths.get(out))
          writeS - consumeS
        }
      }))
      def last(n: String) = spans.all.filter(_.name == s"geonames.$n").map(_.seconds).last
      Seq(
        Metric("geonames.scan_s", last("scan"), "s"),
        Metric("geonames.pits_s", last("pits"), "s"),
        Metric("geonames.relations_s", last("relations"), "s"),
        Metric("geonames.envelopes_s", last("envelopes"), "s"),
        Metric("geonames.sink_s", sinkS, "s"),
        Metric("geonames.main_scans", scans.toDouble, "count"),
        Metric("geonames.read_amplification", bytesRead / dump.inputBytes, "ratio"),
        Metric("geonames.rows_in", dump.expected.rowsIn.toDouble, "count"),
        Metric("geonames.rows_out", dump.expected.lines.toDouble, "count"))
    }

    /** The GeoNames layer measured on a fixed 20k-row control dump, so the
      * surface workloads report it too.
      */
    private def geonamesControl(): Seq[Metric] = {
      val d = GeoGen.write(seed, 20000, s"$work/geo-control")
      def transform(i: Int) = timed(group(s"layer/control-$i")(
        GeoNames.transform(spark, d.dir, s"$work/geo-control-$i", d.config)))._2
      transform(0) // warm-up: this process has not run the pipeline yet
      transform(1)
      geonamesLayer(d, counters(Seq("layer/control-1")).inputBytes.toDouble)
    }

    /** Leaf nodes of an executed plan, through adaptive wrappers. */
    private def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case s: QueryStageExec => leaves(s.plan)
      case r: ReusedExchangeExec => leaves(r.child)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }

    /** The transform's three source frames, through the program's readers. */
    private def readers(d: GeoGen.Dump) = (
      GeoNames.readAllCountries(spark, s"${d.dir}/allCountries.txt"),
      GeoNames.readAdminCodes(spark, s"${d.dir}/admin1CodesASCII.txt"),
      GeoNames.readAdminCodes(spark, s"${d.dir}/admin2Codes.txt"))

    /** Line and pit counts of a transform's NDJSON output. */
    private def countOutput(dir: String): (Long, Long) = {
      var lines = 0L
      var pits = 0L
      val prefix = "{\"type\":\"pit\"".getBytes("UTF-8")
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-")).foreach { p =>
          val in = Files.newInputStream(p)
          try {
            val buf = new Array[Byte](1 << 20)
            var matched = 0 // prefix bytes matched at the current line start; -1 once off
            var n = in.read(buf)
            while (n > 0) {
              var i = 0
              while (i < n) {
                val b = buf(i)
                if (b == '\n') { lines += 1; matched = 0 }
                else if (matched >= 0 && matched < prefix.length) {
                  if (b == prefix(matched)) {
                    matched += 1
                    if (matched == prefix.length) pits += 1
                  } else matched = -1
                }
                i += 1
              }
              n = in.read(buf)
            }
          } finally in.close()
        }
      (lines, pits)
    }

    private def checkTransform(out: String, e: GeoGen.Expected): Boolean = {
      val (lines, pits) = countOutput(out)
      val ok = lines == e.lines && pits == e.pits && lines - pits == e.relations
      if (!ok) fail(s"transform output $lines lines / $pits pits; expected ${e.lines} / ${e.pits}")
      ok
    }

    /** Sorted byte-equality of the engine and tools/reference_proxy.js on
      * a small seeded sample, under the configuration the proxy hard-codes.
      */
    private def proxyCheck(rows: Int): Unit = {
      val dir = s"$work/proxy"
      val d = GeoGen.write(seed ^ 0x5eed, rows, dir)
      Files.copy(Paths.get(dir, "allCountries.txt"), Paths.get(dir, "ac"))
      GeoNames.transform(spark, dir, s"$dir/engine", GeoGen.proxyConfig)
      val proxyOut = Paths.get(dir, "proxy.ndjson")
      val p = new ProcessBuilder("node", "tools/reference_proxy.js", dir, proxyOut.toString)
        .redirectErrorStream(true).start()
      val log = new String(p.getInputStream.readAllBytes(), "UTF-8")
      if (p.waitFor() != 0) { checksOk = false; fail(s"reference proxy failed: $log"); return }
      val ours = Files.list(Paths.get(dir, "engine")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(f => Files.readAllLines(f).asScala).toSeq.sorted
      val theirs = Files.readAllLines(proxyOut).asScala.toSeq.sorted
      if (ours != theirs || ours.isEmpty) {
        checksOk = false
        fail(s"engine and reference proxy differ on the $rows-row sample " +
          s"(${ours.size} vs ${theirs.size} lines)")
      }
      deleteTree(Paths.get(dir))
    }

    def geonames(): String = {
      val rows = a("rows").toInt
      val geo = s"$work/geo"
      // set-up round: generate the seeded dump into a fresh directory and
      // construct the transform's plan over it
      var dump: GeoGen.Dump = null
      val setup = (1 to setupRounds).map { r =>
        if (dump != null) deleteTree(Paths.get(dump.dir))
        timed {
          dump = GeoGen.write(seed, rows, s"$geo/in-$r")
          val (places, a1, a2) = readers(dump)
          GeoNames.envelopes(places, a1, a2, dump.config)
        }._2
      }
      // untimed warm-up: three transforms, after which the JIT has settled
      // (after one, each further transform still ran faster than the last)
      val warmUp = (1 to 3).map { w =>
        val out = s"$geo/warm-$w"
        val s = timed(GeoNames.transform(spark, dump.dir, out, dump.config))._2
        if (!checkTransform(out, dump.expected)) checksOk = false
        deleteTree(Paths.get(out))
        s
      }.sum
      proxyCheck(a.get("proxy-rows").map(_.toInt).getOrElse(5000))
      if (traced) sc.addSparkListener(listener)

      val walls = mutable.ArrayBuffer.empty[Double]
      val tracedWalls = mutable.ArrayBuffer.empty[Double]
      val tracedOps = mutable.ArrayBuffer.empty[String]
      val loadS = mutable.ArrayBuffer.empty[Double]
      val releaseS = mutable.ArrayBuffer.empty[Double]
      var gcS = 0.0
      val start = now
      var i = 0
      while ((now - start) / 1e9 < seconds || (traced && i < 2)) {
        val out = s"$geo/out-$i"
        // the traced run alternates untraced and traced ops, so both
        // sides of the tracing overhead come from the same process
        val traceOp = traced && i % 2 == 1
        val op = s"op-$i"
        attempted += 1
        val wall = try {
          val (_, w) = timed {
            if (traceOp) group(op)(spans("geonames.transform", op) {
              val gc0 = gcSeconds()
              GeoNames.transform(spark, dump.dir, out, dump.config)
              gcS += gcSeconds() - gc0
            })
            else GeoNames.transform(spark, dump.dir, out, dump.config)
          }
          if (!checkTransform(out, dump.expected)) failed += 1
          w
        } catch { case e: Throwable => failed += 1; fail(s"$op: $e"); Double.NaN }
        if (!wall.isNaN) {
          if (traceOp) { tracedWalls += wall; tracedOps += op } else walls += wall
        }
        if (traceOp) {
          loadS += group(s"$op/sources")(spans("sources.load", op)(timed(readers(dump))._2))
          releaseS += spans("lineage.release", op)(
            timed(SparkEntry.releaseDeadCheckpoints(spark))._2)
        }
        deleteTree(Paths.get(out))
        i += 1
      }
      println("[perfbench] ops " + walls.map(w => f"$w%.3f").mkString(" "))
      if (!traced) {
        val p50 = median(walls.toSeq)
        result(Seq(
          setupMetric(setup, warmUp),
          Metric("op_p50_s", p50, "s"),
          Metric("pass_s", p50, "s"),
          Metric("rows_per_s", dump.expected.rowsIn / p50, "1/s"),
          Metric("peak_rss_mb", peakRssMb(), "MB")),
          Seq(Metric("op_p90_s", quantile(walls.toSeq, 0.9), "s"),
            Metric("failed_frac", failed.toDouble / attempted, "fraction"),
            Metric("ops", walls.size.toDouble, "count")))
      } else {
        val c = counters(tracedOps.toSeq)
        val n = tracedOps.size.toDouble
        val transformS = median(tracedWalls.toSeq)
        // construction and planning of the envelope plan, as one call
        val (envDf, constructS) = group("layer/construct") {
          spans("entry.construct", "layer") {
            timed {
              val (places, a1, a2) = readers(dump)
              GeoNames.envelopes(places, a1, a2, dump.config)
            }
          }
        }
        group("layer/plan")(spans("catalyst.plan", "layer")(envDf.queryExecution.executedPlan))
        val planS = phases(envDf)
        val layer = geonamesLayer(dump, c.inputBytes / n)
        val constructJobs = counters(Seq("layer/construct")).jobs
        writeTrace("geonames_dump", tracedOps.zip(tracedWalls).map { case (o, w) =>
          s"""{"op": "$o", "wall_s": $w}""" }.toSeq)
        result(Seq(
          Metric("sources.load_s", median(loadS.toSeq), "s"),
          Metric("sources.load_jobs",
            median(tracedOps.map(o => counters(Seq(s"$o/sources")).jobs.toDouble).toSeq), "count"),
          Metric("entry.construct_s", constructS, "s"),
          Metric("entry.construct_jobs", constructJobs.toDouble, "count"),
          Metric("entry.eager_queries", if (constructJobs > 0) 1 else 0, "count"),
          Metric("catalyst.plan_s", planS, "s")) ++
          execMetrics(c, transformS, gcS / n, n) ++ ioMetrics(c, n) ++ Seq(
          Metric("lineage.release_s", median(releaseS.toSeq), "s"),
          Metric("lineage.rdds_released", 0, "count"),
          Metric("lineage.cached_mb", 0, "MB")) ++ layer ++ Seq(
          Metric("trace.overhead_s", transformS - median(walls.toSeq), "s")),
          Seq(Metric("ops", tracedWalls.size.toDouble, "count")))
      }
    }

    /** Analysis + optimization + planning of `df`, from Spark's tracker. */
    private def phases(df: DataFrame): Double =
      df.queryExecution.tracker.phases.values.map(p => p.durationMs).sum / 1e3

    // --------------------------------------------------------- surface

    /** Direct `Tables.<t>` calls for every table the surface reads. */
    private def loadTables(dir: String): Unit =
      Seq[Surface.Query](Tables.lineitem, Tables.orders, Tables.customer, Tables.part,
        Tables.supplier, Tables.nation, Tables.region, Tables.documents,
        Tables.embeddings, Tables.events).foreach(_(spark, dir))

    def surface(): String = {
      val ops = Surface.opSet
      val expected = Surface.readExpected(Paths.get(a("expected")))
      val missing = ops.map(_._1).filterNot(expected.contains)
      require(missing.isEmpty, s"no recorded result for ${missing.mkString(", ")}")

      def check(name: String, got: (Long, Long)): Boolean = {
        val ok = expected(name) == got
        if (!ok) fail(s"$name returned ${got._1} rows / hash ${got._2.toHexString}; " +
          s"recorded ${expected(name)._1} / ${expected(name)._2.toHexString}")
        ok
      }

      // set-up round: stage the tables into a fresh directory and load
      // every table over it
      var dir: String = null
      val setup = (1 to setupRounds).map { r =>
        timed {
          dir = Surface.stage(a("data"), s"$work/stage-$r")
          loadTables(dir)
        }._2
      }
      // untimed warm-up pass: builds the per-input fixtures, runs the
      // eager jobs of construction, JIT-compiles and generates code
      val (_, warmUp) = timed(ops.foreach { case (n, fn) =>
        val ok = try check(n, Surface.execute(fn(spark, dir)))
        catch { case e: Throwable => fail(s"$n: $e"); false }
        if (!ok) checksOk = false
        SparkEntry.releaseDeadCheckpoints(spark)
      })
      if (traced) sc.addSparkListener(listener)

      final class Pass(val index: Int, val traced: Boolean) {
        val walls = mutable.ArrayBuffer.empty[(String, Double)]
        var rows = 0L
        val opIds = mutable.ArrayBuffer.empty[String]
        var planS, analysisS, releaseS, cachedMb, gcS = 0.0
        var released = 0
        def complete: Boolean = walls.size == ops.size
        def seconds: Double = walls.map(_._2).sum
      }
      val passes = mutable.ArrayBuffer.empty[Pass]
      val start = now
      var p = 0
      // whole passes only, so every op-set member weighs the same; the pass
      // in progress when time is up is finished. The traced run alternates
      // untraced and traced passes, at least three, so both sides of the
      // tracing overhead come from the same process and the fastest
      // untraced pass is not the first one.
      while ((now - start) / 1e9 < seconds || (traced && p < 3)) {
        val pass = new Pass(p, traced && p % 2 == 1)
        val gc0 = if (pass.traced) gcSeconds() else 0.0
        new Random(seed * 1000003L + p).shuffle(ops).foreach { case (n, fn) =>
          val op = s"p$p-$n"
          attempted += 1
          try {
            val (got, wall) =
              if (!pass.traced) timed(Surface.execute(fn(spark, dir)))
              else timed(spans("op", op) {
                val df = group(s"$op/construct")(spans("entry.construct", op)(fn(spark, dir)))
                group(s"$op/plan")(spans("catalyst.plan", op)(df.queryExecution.executedPlan))
                val r = group(s"$op/exec")(spans("exec", op)(Surface.execute(df)))
                pass.planS += phases(df)
                pass.analysisS += df.queryExecution.tracker.phases.get("analysis")
                  .map(_.durationMs).getOrElse(0L) / 1e3
                r
              })
            if (check(n, got)) { pass.walls += n -> wall; pass.rows += got._1 } else failed += 1
          } catch { case e: Throwable => failed += 1; fail(s"$op: $e") }
          if (pass.traced) {
            pass.opIds += op
            val rdds = sc.getPersistentRDDs.keySet
            pass.released += rdds.size
            pass.cachedMb += sc.getRDDStorageInfo.filter(i => rdds.contains(i.id))
              .map(i => i.memSize + i.diskSize).sum / 1e6
            spans("lineage.release", op)(SparkEntry.releaseDeadCheckpoints(spark))
          } else SparkEntry.releaseDeadCheckpoints(spark)
        }
        if (pass.traced) pass.gcS = gcSeconds() - gc0
        if (pass.traced)
          group(s"p$p-sources")(spans("sources.load", s"p$p-sources")(loadTables(dir)))
        passes += pass
        p += 1
      }
      val plain = passes.filter(x => !x.traced && x.complete).toSeq
      plain.flatMap(_.walls).groupBy(_._1).toSeq.sortBy(_._1).foreach { case (n, ws) =>
        println(s"[perfbench] op $n " + ws.map(w => f"${w._2}%.3f").mkString(" "))
      }
      // each member's fastest op first (the first passes still run warmer
      // code in than the later ones), so every member weighs the same
      // whatever the number of passes; a pass is then the sum over members
      val perQuery = plain.flatMap(_.walls).groupBy(_._1).values.map(_.map(_._2).min).toSeq
      if (!traced) {
        val passS = perQuery.sum
        result(Seq(
          setupMetric(setup, warmUp),
          Metric("op_p50_s", median(perQuery), "s"),
          Metric("pass_s", passS, "s"),
          Metric("rows_per_s", if (passS > 0) plain.head.rows / passS else 0.0, "1/s"),
          Metric("peak_rss_mb", peakRssMb(), "MB")),
          Seq(Metric("op_p90_s", quantile(perQuery, 0.9), "s"),
            Metric("failed_frac", failed.toDouble / attempted, "fraction"),
            Metric("passes", plain.size.toDouble, "count"),
            Metric("op_set", ops.size.toDouble, "count")))
      } else {
        val tp = passes.filter(x => x.traced && x.complete).toSeq
        require(tp.nonEmpty, "no complete traced pass")
        def med(f: Pass => Double) = median(tp.map(f))
        def spanSum(x: Pass, name: String) =
          spans.all.iterator.filter(s => s.name == name && s.op.startsWith(s"p${x.index}-"))
            .map(_.seconds).sum
        def jobs(x: Pass, phase: String) = x.opIds.map(o => counters(Seq(s"$o/$phase")).jobs)
        val exec = new Counters
        val all = new Counters
        tp.foreach { x =>
          exec += counters(x.opIds.map(o => s"$o/exec").toSeq)
          all += counters(x.opIds.flatMap(o => Seq(s"$o/construct", s"$o/exec")).toSeq)
        }
        val n = tp.size.toDouble
        val geo = geonamesControl()
        writeTrace("surface", tp.flatMap(x => x.opIds.zip(x.walls).map { case (o, (_, w)) =>
          s"""{"op": "$o", "wall_s": $w}""" }))
        result(Seq(
          Metric("sources.load_s", med(spanSum(_, "sources.load")), "s"),
          Metric("sources.load_jobs",
            med(x => counters(Seq(s"p${x.index}-sources")).jobs.toDouble), "count"),
          Metric("entry.construct_s", med(x => spanSum(x, "entry.construct") - x.analysisS), "s"),
          Metric("entry.construct_jobs", med(jobs(_, "construct").sum.toDouble), "count"),
          Metric("entry.eager_queries", med(jobs(_, "construct").count(_ > 0).toDouble), "count"),
          Metric("catalyst.plan_s", med(_.planS), "s")) ++
          execMetrics(exec, med(spanSum(_, "exec")), med(_.gcS), n) ++ ioMetrics(all, n) ++ Seq(
          Metric("lineage.release_s", med(spanSum(_, "lineage.release")), "s"),
          Metric("lineage.rdds_released", med(_.released.toDouble), "count"),
          Metric("lineage.cached_mb", med(_.cachedMb), "MB")) ++ geo ++ Seq(
          Metric("trace.overhead_s", tp.map(_.seconds).min - plain.map(_.seconds).min, "s")),
          Seq(Metric("passes", tp.size.toDouble, "count")))
      }
    }
  }
}
