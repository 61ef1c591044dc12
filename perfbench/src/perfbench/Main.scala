package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import graft.SparkEntry
import graft.util.Tables
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. `run.py` starts one JVM per run:
  *
  *   perfbench.Main registry key=value...   driver-loop / single-plan
  *   perfbench.Main lake key=value...       lake-writes
  *   perfbench.Main census key=value...     traced passes over all ids
  *   perfbench.Main selftest key=value...   checks of this package
  *
  * The JVM is a single closed-loop client: the next call starts only after
  * the previous one returned. It writes one JSON record (`out=`) with raw
  * per-call samples and per-pass layer counters; run.py turns those into
  * metrics. Spans sit at the benchmark's own boundaries — run → pass →
  * call → build / execute — and jobs are attributed to a span through the
  * job group set on this thread. */
object Main {
  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val conf = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    args(0) match {
      case "registry" => Registry(conf, mainMs)
      case "lake" => LakeWrites(conf, mainMs)
      case "census" => Census(conf)
      case "selftest" => SelfTest(conf)
      case m => sys.error(s"unknown mode $m")
    }
  }

  def session(): SparkSession = {
    val s = graft.util.Sessions.local()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sessionStamp(spark: SparkSession): Seq[(String, Any)] = {
    val c = spark.conf
    val rt = Runtime.getRuntime
    Seq(
      "master" -> spark.sparkContext.master,
      "cores" -> spark.sparkContext.defaultParallelism,
      "xmx_mb" -> rt.maxMemory / 1048576,
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "codegen_cache" -> spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries", "100"),
      "spark_version" -> spark.version)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def readTsv(path: String): Seq[Array[String]] =
    if (path == null || path.isEmpty || !new File(path).exists) Nil
    else Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t", -1))

  /** Per-pass layer counters shared by both workload kinds. */
  def layers(tr: Trace, t0: Long, t1: Long, wallS: Double, j0: Trace.Jvm, j1: Trace.Jvm,
      groupOf: String => String, spans: Seq[(String, Long, Long)]): mutable.LinkedHashMap[String, Double] = {
    val w = tr.window(t0, t1, groupOf)
    val m = mutable.LinkedHashMap.empty[String, Double]
    val mb = 1048576.0
    m("scheduler.jobs") = w.jobs
    m("scheduler.stages") = w.stages
    m("scheduler.tasks") = w.tasks.toDouble
    m("scheduler.delay_s") = w.delayMs / 1e3
    m("scheduler.driver_only_s") = spans.map { case (sp, s, e) => w.idleMs(sp, s, e) }.sum / 1e3
    m("catalyst.plan_s") = w.planMs / 1e3
    m("catalyst.executions") = w.executions
    m("codegen.compiles") = (j1.compiles - j0.compiles).toDouble
    m("codegen.compile_s") = (j1.compileMs - j0.compileMs) / 1e3
    m("executor.run_s") = w.runMs / 1e3
    m("executor.cpu_s") = w.cpuNs / 1e9
    m("executor.gc_s") = w.gcMs / 1e3
    m("executor.cores_busy") = if (wallS > 0) w.runMs / 1e3 / wallS else 0.0
    m("executor.shuffle_write_mb") = w.shufWriteB / mb
    m("executor.shuffle_read_mb") = w.shufReadB / mb
    m("executor.fetch_wait_s") = w.fetchWaitMs / 1e3
    m("executor.spill_mb") = w.spillB / mb
    m("lake.input_mb") = w.inputB / mb
    m("streaming.add_batch_ms") = w.addBatchMs.toDouble
    m("streaming.planning_ms") = w.planningMs.toDouble
    m("streaming.wal_commit_ms") = w.walCommitMs.toDouble
    m("streaming.state_rows") = w.stateRows.toDouble
    m("streaming.state_mem_mb") = w.stateMemB / mb
    m("jvm.gc_pause_s") = (j1.gcMs - j0.gcMs) / 1e3
    m("jvm.process_cpu_s") = (j1.cpuNs - j0.cpuNs) / 1e9
    m
  }

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** The calibration probe (Trace.calibrate), taken after a full GC once no
    * Spark job runs and the listener bus has drained, so work the program
    * leaves behind after its calls reads as little as possible as a slow
    * host. */
  def probe(sc: SparkContext, tr: Trace): Double = {
    System.gc()
    tr.drain()
    val deadline = System.currentTimeMillis() + 10000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    Trace.calibrate(sc.defaultParallelism)
  }

  /** Run passes until the next one would end past `seconds`; at least one. */
  def timedPasses(seconds: Double)(pass: Int => Double): Int = {
    val start = System.nanoTime()
    var n = 0; var last = 0.0
    while (n == 0 || secs(start, System.nanoTime()) + last <= seconds) {
      last = pass(n); n += 1
    }
    n
  }
}

/** `driver-loop` and `single-plan`: passes over a fixed, ordered id list. */
object Registry {
  import Main._

  /** Largest change of wall between two warm passes that still counts as
    * steady. */
  val SteadyFrac = 0.10

  def apply(conf: Map[String, String], mainMs: Long): Unit = {
    val dir = conf("data")
    val ids = conf("ids").split(",").toSeq
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val expected = readTsv(conf("expected")).map(a => a(0) -> (a(1), a(2))).toMap
    val carriers = readTsv(conf("carriers"))
      .flatMap(a => a(1).split(",").filter(_.nonEmpty).map(_ -> a(0)))
      .groupBy(_._1).map { case (op, xs) => op -> xs.map(_._2).toSet }

    val spark = session()
    val sc = spark.sparkContext
    val tr = new Trace
    if (traced) tr.attach(spark)
    val readyMs = System.currentTimeMillis()

    // Output check, which is also the first (cold) warm-up execution of each
    // id. It runs on one thread per core: it is set-up, not a timed call,
    // and the cold JIT and codegen work it pays for spreads over the cores.
    val c0 = System.nanoTime()
    val cores = sc.defaultParallelism
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val checks = ids.map { id =>
      id -> pool.submit(new java.util.concurrent.Callable[(String, String, Boolean, Option[(String, String)])] {
        def call() = try {
          val (rows, fp) = Fingerprint.of(SparkEntry.queries(id)(spark, dir))
          val exp = expected.get(id)
          (rows.toString, fp, exp.contains((rows.toString, fp)), exp)
        } catch { case e: Throwable =>
          System.err.println(s"[perfbench] $id check failed: $e")
          ("-1", e.getClass.getSimpleName, false, expected.get(id))
        }
      })
    }.map { case (id, f) => id -> f.get() }
    val badIds = checks.collect { case (id, (_, _, false, _)) => id }.toSet
    val checkS = secs(c0, System.nanoTime())

    // Concurrent warm-up rounds: every id runs at least once per round and
    // each round keeps every core busy, so the JIT sees more executions per
    // second of set-up than a sequential pass would give it.
    val rounds = conf("rounds").toInt
    val copies = math.max(1, (cores + ids.size - 1) / ids.size)
    val roundS = (1 to rounds).map { _ =>
      val t0 = System.nanoTime()
      val fs = for (id <- ids; _ <- 1 to copies) yield pool.submit(new Runnable {
        def run(): Unit = try noop(SparkEntry.queries(id)(spark, dir)) catch { case _: Throwable => () }
      })
      fs.foreach(_.get())
      secs(t0, System.nanoTime())
    }
    pool.shutdown()

    def call(tag: String, id: String): (Double, Double, Boolean) = {
      sc.setJobGroup(s"$tag|$id|build", id, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(id)(spark, dir)
        val t1 = System.nanoTime()
        sc.setJobGroup(s"$tag|$id|exec", id, interruptOnCancel = false)
        noop(df)
        val t2 = System.nanoTime()
        (secs(t0, t1), secs(t1, t2), true)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $id failed: $e")
        (secs(t0, System.nanoTime()), 0.0, false)
      } finally sc.clearJobGroup()
    }

    // Sequential warm passes until one is steady: it compiled no codegen
    // fragment and its wall is within SteadyFrac of the previous pass's. At
    // least two; no more once the next would end past warm_max_s. Each
    // starts after a full GC, as a timed pass does.
    val warmMaxS = conf("warm_max_s").toDouble
    val warm = mutable.ArrayBuffer.empty[(Double, Long)] // (wall, compiles)
    def steady = warm.size >= 2 && warm.last._2 == 0 &&
      math.abs(warm.last._1 - warm(warm.size - 2)._1) <= SteadyFrac * warm(warm.size - 2)._1
    val w0 = System.nanoTime()
    while (warm.size < 2 || (!steady && secs(w0, System.nanoTime()) + warm.last._1 <= warmMaxS)) {
      System.gc()
      val c0 = Trace.jvm().compiles
      val t0 = System.nanoTime()
      ids.foreach(id => call(s"w${warm.size}", id))
      warm += ((secs(t0, System.nanoTime()), Trace.jvm().compiles - c0))
    }

    // the probe's full GC also collects earlier passes' garbage outside
    // the timed passes
    val calib = mutable.ArrayBuffer(probe(sc, tr))
    val firstCallMs = System.currentTimeMillis()
    val calls = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    timedPasses(seconds) { p =>
      if (p > 0) calib += probe(sc, tr)
      val j0 = Trace.jvm()
      val t0Ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val walls = ids.map { id =>
        val s0 = System.currentTimeMillis()
        val (b, e, ok) = call(s"p$p", id)
        val s1 = System.currentTimeMillis()
        spans += ((s"p$p|$id", s0, s1))
        calls += Json.obj("id" -> id, "pass" -> p, "build_s" -> b, "exec_s" -> e,
          "ok" -> (ok && !badIds(id)))
        id -> (b, e)
      }
      val wall = secs(t0, System.nanoTime())
      val t1Ms = System.currentTimeMillis()
      val lay: Seq[(String, Any)] = if (!traced) Nil else {
        tr.drain()
        val j1 = Trace.jvm()
        // group "pN|id|phase" → span "pN|id"; keep the phase for job counts
        val m = layers(tr, t0Ms, t1Ms, wall, j0, j1, g => g.split('|').take(2).mkString("|"), spans.toSeq)
        val w = tr.window(t0Ms, t1Ms, identity)
        m("queries.build_s") = walls.map(_._2._1).sum
        m("queries.exec_s") = walls.map(_._2._2).sum
        m("queries.build_jobs") = w.jobsBySpan.collect { case (g, n) if g.endsWith("|build") => n }.sum
        Seq("quantiles", "component_labels", "knn", "text").foreach { op =>
          val cs = carriers.getOrElse(op, Set.empty)
          m(s"ops.${op}_s") = walls.collect { case (id, (b, e)) if cs(id) => b + e }.sum
        }
        m.toSeq
      }
      passes += Json.obj("pass" -> p, "wall_s" -> wall, "layers" -> Json.raw(Json.obj(lay: _*)))
      wall
    }
    calib += probe(sc, tr)
    val blocksMb = storageMb(spark)
    val heapMb = Trace.retainedHeapMb()
    val rec = Json.obj(
      Seq[(String, Any)](
        "calib_s" -> calib.toSeq,
        "kind" -> "registry",
        "t_main_ms" -> mainMs, "t_ready_ms" -> readyMs, "t_first_call_ms" -> firstCallMs,
        "warm_pass_s" -> warm.map(_._1), "warm_compiles" -> warm.map(_._2),
        "warm_steady" -> steady, "check_s" -> checkS, "round_s" -> roundS,
        "calls" -> Json.raw(calls.mkString("[", ",", "]")),
        "passes" -> Json.raw(passes.mkString("[", ",", "]")),
        "checks" -> Json.raw(checks.map { case (id, (r, fp, ok, exp)) =>
          Json.obj("id" -> id, "rows" -> r, "fp" -> fp, "ok" -> ok,
            "expected_rows" -> exp.map(_._1).getOrElse(""),
            "expected_fp" -> exp.map(_._2).getOrElse(""))
        }.mkString("[", ",", "]")),
        "retained_heap_mb" -> heapMb,
        "materialize_blocks_mb" -> blocksMb,
        "session" -> Json.raw(Json.obj(sessionStamp(spark): _*))): _*)
    Files.writeString(Paths.get(conf("out")), rec)
    spark.stop()
  }
}

/** `lake-writes`: each rep runs both pipeline chains into a fresh lake and
  * drains scheduled `Trigger.AvailableNow` cycles of the snapshot and
  * corpus streams, one seeded slice per cycle. */
object LakeWrites {
  import Main._

  /** A pipeline Summary as "f1,f2,..." for comparison with the expected one. */
  def fields(p: Product): String = p.productIterator.mkString(",")

  def apply(conf: Map[String, String], mainMs: Long): Unit = {
    val dir = conf("data")
    val root = conf("lake")
    val seed = conf("seed").toLong
    val cycles = conf("cycles").toInt
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val marketExp = conf("market")
    val corpusExp = conf("corpus")
    val spark = session()
    val sc = spark.sparkContext
    val tr = new Trace
    if (traced) tr.attach(spark)
    val readyMs = System.currentTimeMillis()

    // Stage the slices once, in one write per stream. Events are cut into
    // `cycles` consecutive time ranges, so no slice is older than the
    // previous one's watermark and the drained output must equal its batch
    // twin; each slice repeats a seeded sample of its own rows. Document
    // slices are doc_id ranges plus a seeded sample of earlier slices.
    val stage = s"$root/staged"
    val ev = Tables.events(spark, dir)
    val evSchema = ev.schema
    val docs = Tables.documents(spark, dir)
    val docSchema = docs.schema
    val span = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val (tLo, tHi) = (span.getLong(0), span.getLong(1) + 1)
    val maxDoc = docs.agg(max("doc_id")).head().getLong(0)
    val evs = ev.withColumn("slice",
      floor((unix_micros(col("ts")) - tLo).cast("double") / (tHi - tLo) * cycles).cast("int"))
    evs.union(evs.sample(0.05, seed)).repartition(col("slice"))
      .write.partitionBy("slice").mode("overwrite").parquet(s"$stage/events")
    val ds = docs.withColumn("slice",
      least(lit(cycles - 1), floor(col("doc_id") * cycles / (maxDoc + 1))).cast("int"))
    val again = ds.crossJoin(spark.range(1, cycles).toDF("k")).filter(col("slice") < col("k"))
      .sample(0.05, seed).withColumn("slice", col("k").cast("int")).drop("k")
    ds.union(again).repartition(col("slice"))
      .write.partitionBy("slice").mode("overwrite").parquet(s"$stage/docs")
    def land(kind: String, k: Int, srcDir: String): Unit = {
      Files.createDirectories(Paths.get(srcDir))
      Files.list(Paths.get(s"$stage/$kind/slice=$k")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.copy(p, Paths.get(srcDir, s"slice$k-${p.getFileName}"),
          StandardCopyOption.REPLACE_EXISTING))
    }
    val mapping = {
      import spark.implicits._
      Seq.empty[(String, String)].toDF("from_id", "to_id")
    }

    var failures = 0
    var attempts = 0
    val problems = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = { failures += 1; problems += msg; System.err.println(s"[perfbench] $msg") }

    /** One rep; returns (market_s, corpus_s, cycle walls, spans). */
    def rep(tag: String): (Double, Double, Seq[(String, Double)], Seq[(String, Long, Long)],
        mutable.HashMap[String, String]) = {
      val lake = s"$root/$tag"
      val spans = mutable.ArrayBuffer.empty[(String, Long, Long)]
      val streamSpan = mutable.HashMap.empty[String, String]
      def timed[T](span: String)(f: => T): (Option[T], Double) = {
        attempts += 1
        sc.setJobGroup(s"$tag|$span", span, interruptOnCancel = false)
        val s0 = System.currentTimeMillis(); val t0 = System.nanoTime()
        val r = try Some(f) catch { case e: Throwable => fail(s"$tag $span: $e"); None }
          finally sc.clearJobGroup()
        val w = secs(t0, System.nanoTime())
        System.err.println(f"[perfbench] $tag $span $w%.3f s")
        spans += ((s"$tag|$span", s0, System.currentTimeMillis()))
        (r, w)
      }
      val (ms, marketS) = timed("market")(graft.Pipelines.run(spark,
        graft.Pipelines.bronzeFromEvents(spark, dir), mapping, s"$lake/market"))
      ms.map(fields).filter(_ != marketExp).foreach(s => fail(s"$tag market summary $s != $marketExp"))
      val (cs, corpusS) = timed("corpus")(graft.CorpusPipeline.run(spark,
        Tables.documents(spark, dir), s"$lake/corpus"))
      cs.map(fields).filter(_ != corpusExp).foreach(s => fail(s"$tag corpus summary $s != $corpusExp"))

      // One scheduled cycle: a slice of events and one of documents land,
      // then both streams drain them; the cycle ends when both committed.
      val cyc = (0 until cycles).map { k =>
        land("events", k, s"$lake/src/events")
        land("docs", k, s"$lake/src/docs")
        val (_, w) = timed(s"cycle$k") {
          val a = graft.streaming.Streams.snapshotIngest(spark, s"$lake/src/events", evSchema,
            s"$lake/ckpt/snapshot", s"$lake/stream/snapshot", "ts", Seq("user_id", "event_type"))
          streamSpan(a.runId.toString) = s"$tag|cycle$k"
          a.awaitTermination()
          val b = graft.streaming.Streams.corpusIngest(spark, s"$lake/src/docs", docSchema,
            s"$lake/ckpt/corpus", s"$lake/stream/corpus")
          streamSpan(b.runId.toString) = s"$tag|cycle$k"
          b.awaitTermination()
        }
        s"cycle$k" -> w
      }
      (marketS, corpusS, cyc, spans.toSeq, streamSpan)
    }

    /** Drained output equals its batch twin over every landed slice. */
    def checkStreams(tag: String): Unit = {
      val lake = s"$root/$tag"
      val landedEv = spark.read.schema(evSchema).parquet(s"$lake/src/events")
      val keys = Seq("user_id", "event_type", "ts")
      val twin = Fingerprint.of(landedEv.dropDuplicates(keys).select(keys.map(col): _*))
      val got = Fingerprint.of(spark.read.parquet(s"$lake/stream/snapshot").select(keys.map(col): _*))
      if (got != twin) fail(s"$tag snapshot stream $got != batch twin $twin")
      val landedDocs = spark.read.schema(docSchema).parquet(s"$lake/src/docs")
      val h = graft.ops.TextOps.contentHash(col("text")).as("h")
      val twinDocs = Fingerprint.of(graft.ops.Corpus.exactDedup(landedDocs).select(h).distinct())
      val gotDocs = Fingerprint.of(spark.read.parquet(s"$lake/stream/corpus").select(col("text_hash").as("h")))
      if (gotDocs != twinDocs) fail(s"$tag corpus stream $gotDocs != exactDedup twin $twinDocs")
    }

    def lakeSize(tag: String): (Double, Long) = {
      val files = Files.walk(Paths.get(s"$root/$tag")).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
          !p.toString.contains("/src/")).toSeq
      (files.map(Files.size).sum / 1048576.0, files.size.toLong)
    }
    def wipe(tag: String): Unit = deleteTree(Paths.get(s"$root/$tag"))

    val calib0 = probe(sc, tr)
    val firstCallMs = System.currentTimeMillis()
    val calls = mutable.ArrayBuffer.empty[String]
    val passes = mutable.ArrayBuffer.empty[String]
    timedPasses(seconds) { p =>
      val tag = s"p$p"
      val j0 = Trace.jvm()
      val t0Ms = System.currentTimeMillis()
      val (marketS, corpusS, cyc, spans, streamSpan) = rep(tag)
      val t1Ms = System.currentTimeMillis()
      val wall = marketS + corpusS + cyc.map(_._2).sum
      cyc.foreach { case (k, s) => calls += Json.obj("id" -> k, "pass" -> p, "s" -> s) }
      val lay: Seq[(String, Any)] = if (!traced) Nil else {
        tr.drain()
        val j1 = Trace.jvm()
        val m = layers(tr, t0Ms, t1Ms, wall, j0, j1,
          g => streamSpan.getOrElse(g, g), spans)
        val (outMb, outFiles) = lakeSize(tag)
        m("lake.output_mb") = outMb
        m("lake.output_files") = outFiles.toDouble
        m("pipelines.market_s") = marketS
        m("pipelines.corpus_s") = corpusS
        m.toSeq
      }
      checkStreams(tag)
      wipe(tag)
      passes += Json.obj("pass" -> p, "wall_s" -> wall, "market_s" -> marketS,
        "corpus_s" -> corpusS, "layers" -> Json.raw(Json.obj(lay: _*)))
      wall
    }
    val calib1 = probe(sc, tr)
    val blocksMb = storageMb(spark)
    val heapMb = Trace.retainedHeapMb()
    val rec = Json.obj(
      "kind" -> "lake",
      "calib_s" -> Seq(calib0, calib1),
      "t_main_ms" -> mainMs, "t_ready_ms" -> readyMs, "t_first_call_ms" -> firstCallMs,
      "calls" -> Json.raw(calls.mkString("[", ",", "]")),
      "passes" -> Json.raw(passes.mkString("[", ",", "]")),
      "attempted" -> attempts, "failed" -> failures,
      "problems" -> problems.toSeq,
      "retained_heap_mb" -> heapMb,
      "materialize_blocks_mb" -> blocksMb,
      "session" -> Json.raw(Json.obj(sessionStamp(spark): _*)))
    Files.writeString(Paths.get(conf("out")), rec)
    spark.stop()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)
}

/** Traced passes over the whole registry: per id, the build wall and the jobs
  * started while the DataFrame is built, the execute wall and its jobs, the
  * output fingerprint, and which shared operators built part of its plans
  * (read from the call-site origins Spark records on every plan node). */
object Census {
  import Main._

  private val OpFrames: Seq[(String, StackTraceElement => Boolean)] = Seq(
    "quantiles" -> (f => f.getClassName.startsWith("graft.ops.Quantiles")),
    "component_labels" -> (f => f.getClassName.startsWith("graft.ops.Corpus") &&
      (f.getMethodName.contains("componentLabels") || f.getMethodName.contains("clusterLabels") ||
        f.getMethodName.startsWith("chk"))),
    "knn" -> (f => f.getClassName.startsWith("graft.queries.VectorQueries") &&
      "(?i).*(knnGraph|lshGraph|hierStage|hierSeed|nnDescent).*".r.matches(f.getMethodName)),
    "text" -> (f => f.getClassName.startsWith("graft.ops.TextOps")))

  private def frames(plan: LogicalPlan, into: mutable.Set[StackTraceElement]): Unit =
    plan.foreachWithSubqueries { node =>
      node.origin.stackTrace.foreach(into ++= _)
      node.expressions.foreach(_.foreach(e => e.origin.stackTrace.foreach(into ++= _)))
    }

  def modules: Seq[(String, Seq[graft.Q])] = {
    import graft.queries._
    Seq("CoreQueries" -> CoreQueries.all, "FilterQueries" -> FilterQueries.all,
      "JoinQueries" -> JoinQueries.all, "AggQueries" -> AggQueries.all,
      "WindowQueries" -> WindowQueries.all, "RollingQueries" -> RollingQueries.all,
      "RecursiveQueries" -> RecursiveQueries.all, "SortSetQueries" -> SortSetQueries.all,
      "ScalarQueries" -> ScalarQueries.all, "TextQueries" -> TextQueries.all,
      "VectorQueries" -> VectorQueries.all, "CorpusQueries" -> CorpusQueries.all,
      "SessionQueries" -> SessionQueries.all, "CorpusStatsQueries" -> CorpusStatsQueries.all,
      "CurationQueries" -> CurationQueries.all, "PipelineQueries" -> PipelineQueries.all,
      "PrepQueries" -> PrepQueries.all)
  }

  def apply(conf: Map[String, String]): Unit = {
    val dir = conf("data")
    val moduleOf = modules.flatMap { case (m, qs) => qs.map(_.id -> m) }.toMap
    val ids = SparkEntry.queries.keys.toSeq.sorted
    val spark = session()
    spark.conf.set("spark.sql.stackTracesInDataFrameContext", "6")
    val sc = spark.sparkContext
    val tr = new Trace
    tr.attach(spark)
    val seen = mutable.Set.empty[StackTraceElement]
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(frames(qe.analyzed, seen))
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val out = new java.io.PrintWriter(conf("out"))
    val passes = conf("passes").toInt
    for (pass <- 1 to passes; id <- ids) {
      seen.synchronized(seen.clear())
      val t0Ms = System.currentTimeMillis()
      var err = ""
      var build, exec = -1.0
      var rows = -1L; var fp = ""
      try {
        sc.setJobGroup(s"$id|build", id, interruptOnCancel = false)
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(id)(spark, dir)
        val t1 = System.nanoTime()
        seen.synchronized(frames(df.queryExecution.analyzed, seen))
        sc.setJobGroup(s"$id|exec", id, interruptOnCancel = false)
        noop(df)
        val t2 = System.nanoTime()
        build = secs(t0, t1); exec = secs(t1, t2)
        sc.setJobGroup(s"$id|check", id, interruptOnCancel = false)
        val r = Fingerprint.of(df)
        rows = r._1; fp = r._2
      } catch { case e: Throwable => err = e.toString.take(300).replace('\t', ' ').replace('\n', ' ') }
      finally sc.clearJobGroup()
      tr.drain()
      val w = tr.window(t0Ms, System.currentTimeMillis(), identity)
      val ops = seen.synchronized {
        OpFrames.collect { case (op, p) if seen.exists(p) => op }
      }
      out.println(Json.obj("id" -> id, "pass" -> pass, "module" -> moduleOf.getOrElse(id, ""),
        "build_s" -> build, "exec_s" -> exec,
        "build_jobs" -> w.jobsBySpan.getOrElse(s"$id|build", 0),
        "exec_jobs" -> w.jobsBySpan.getOrElse(s"$id|exec", 0),
        "rows" -> rows, "fp" -> fp, "ops" -> ops, "error" -> err))
      out.flush()
      System.err.println(s"[census] $id build=$build exec=$exec " +
        s"jobs=${w.jobsBySpan.getOrElse(s"$id|build", 0)}/${w.jobsBySpan.getOrElse(s"$id|exec", 0)} $err")
    }
    out.close()
    spark.stop()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case o: Option[_] => o.map(value).getOrElse("null")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
