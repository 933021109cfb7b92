package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed key: construction (`fn(spark, dir)`) and query (the noop write). */
final case class KeyRun(key: String, constructS: Double, queryS: Double) {
  def totalS: Double = constructS + queryS
}

final case class PassRun(index: Int, wallS: Double, keys: Seq[KeyRun])

/** What a traced pass saw besides its timings. */
final case class TracedPass(pass: PassRun, trace: Trace, leak: Map[String, Double],
    publishes: Int, artifactBytes: Long)

/** One benchmark run in a set-up session: a cold pass, warm passes in a
  * closed loop (one key at a time, each starting when the previous one has
  * finished) until `seconds` have passed, then the correctness check. In a
  * traced run the warm passes alternate between untraced and traced.
  */
final class Run(spark: SparkSession, fixture: String, cores: Int, keys: Seq[String],
    fns: Seq[Harness.Fn], seed: Long, seconds: Double, traced: Boolean,
    goldens: Map[String, Golden]) {
  import Harness.median

  private val sc = spark.sparkContext
  private val indexRoot = Paths.get(sys.env("SPARK_GRAFT_INDEX_DIR"))
  private val errors = mutable.LinkedHashMap.empty[String, String]
  private val heap = mutable.ArrayBuffer.empty[Long]
  private var attempted, failed = 0L

  /** Write keys: the `IndexStore` builds and updates; every other key reads. */
  val writeKeys = Set("index_build_vecsearch", "index_build_mediasig",
    "index_update_vecsearch", "index_update_mediasig")
  /** Warm passes at least (of each kind, in a traced run). The first
    * `warmup` of them are not counted: the JIT keeps compiling for several
    * passes after the cold one. A fixed count, rather than whatever fits
    * in the time, keeps a faster host from also reaching a later JIT state.
    */
  val minPasses: Int = if (traced) 3 else 5
  val warmup = 2

  def steady(passes: Seq[PassRun]): Seq[PassRun] = passes.drop(warmup)

  /** The seed only permutes the order of the keys within each warm pass.
    * The cold pass runs them in name order, so that its first-use costs
    * (codegen, JIT, the first index build) fall on the same sequence.
    */
  def order(pass: Int): Seq[Int] =
    if (pass == 0) keys.indices.sortBy(keys)
    else new scala.util.Random(seed * 1000003L + pass).shuffle(keys.indices.toList)

  def runKey(i: Int, trace: Option[(Trace, String)]): KeyRun = {
    val (k, fn) = (keys(i), fns(i))
    val id = trace.map(_._2).getOrElse(k)
    trace.foreach { case (t, _) => t.currentKey = id; t.constructEndMs = Long.MaxValue }
    sc.setLocalProperty("perfbench.key", id)
    sc.setLocalProperty("perfbench.phase", "construct")
    attempted += 1
    val (w0, t0) = (System.currentTimeMillis(), System.nanoTime())
    var t1 = t0
    var w1 = w0
    try {
      val df = fn(spark, fixture)
      t1 = System.nanoTime(); w1 = System.currentTimeMillis()
      trace.foreach(_._1.constructEndMs = w1)
      sc.setLocalProperty("perfbench.phase", "query")
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      trace.foreach { case (t, _) =>
        t.recordPhases(id, df.queryExecution, s"$id/construct", executed = false)
      }
      KeyRun(k, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
    } catch {
      case e: Throwable =>
        failed += 1
        errors.getOrElseUpdate(k, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        KeyRun(k, (System.nanoTime() - t0) / 1e9, 0.0)
    } finally {
      sc.setLocalProperty("perfbench.key", null)
      sc.setLocalProperty("perfbench.phase", null)
      trace.foreach { case (t, _) =>
        val w2 = System.currentTimeMillis()
        PerfbenchAccess.drainListeners(sc)
        t.addSpan(Span(id, "", "key", w0, w2))
        t.addSpan(Span(s"$id/construct", id, "construct", w0, w1))
        t.addSpan(Span(s"$id/query", id, "query", w1, w2))
        t.currentKey = ""
      }
    }
  }

  def pass(p: Int, trace: Option[Trace]): PassRun = {
    val t0 = System.nanoTime()
    val runs = order(p).map(i => runKey(i, trace.map(t => (t, s"p$p/${keys(i)}"))))
    PassRun(p, (System.nanoTime() - t0) / 1e9, runs)
  }

  /** Session state a pass may leave behind. */
  def sessionState(): Map[String, Double] = Map(
    "leak.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
    "leak.cached_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
    "leak.conf_keys" -> spark.conf.getAll.size.toDouble,
    "leak.temp_views" -> spark.catalog.listTables().collect().count(_.isTemporary).toDouble)

  def tracedPass(p: Int): TracedPass = {
    val before = sessionState()
    val t = new Trace
    val watch = new PublishWatch(indexRoot)
    sc.addSparkListener(t)
    spark.listenerManager.register(t)
    val r = try pass(p, Some(t)) finally {
      PerfbenchAccess.drainListeners(sc)
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
    }
    val publishes = try watch.count() finally watch.close()
    val after = sessionState()
    TracedPass(r, t, after.map { case (k, v) => k -> (v - before(k)) }, publishes,
      treeBytes(indexRoot))
  }

  def treeBytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** JIT compile seconds, GC seconds and codegen compilations so far. */
  def jvmCounters(): (Double, Double, Double) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3,
    PerfbenchAccess.codegenCompilations.toDouble)

  /** Digest every key once, outside the timed passes, against the goldens. */
  def check(): Seq[String] = keys.indices.sortBy(keys).flatMap { i =>
    val k = keys(i)
    attempted += 1
    val bad = try {
      val d = Digest.of(fns(i)(spark, fixture))
      goldens.get(k) match {
        case None => Some(s"$k: no golden")
        case Some(g) if g.rows != d.rows => Some(s"$k: ${d.rows} rows, golden ${g.rows}")
        case Some(g) if g.stable && g.hash != d.hash => Some(s"$k: digest ${d.hash}, golden ${g.hash}")
        case _ => None
      }
    } catch { case e: Throwable => Some(s"$k: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    bad.foreach(_ => failed += 1)
    bad
  }

  def execute(registerS: Double, out: String): String = {
    heap += Harness.liveHeap()
    val (jit0, gc0, cg0) = jvmCounters()
    val cold = pass(0, None)
    val (jit1, gc1, cg1) = jvmCounters()
    heap += Harness.liveHeap()

    val warm = mutable.ArrayBuffer.empty[PassRun]
    val tracedRuns = mutable.ArrayBuffer.empty[TracedPass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var p = 1
    while (System.nanoTime() < deadline || warm.size < minPasses ||
        (traced && tracedRuns.size < minPasses)) {
      if (traced && p % 2 == 0) tracedRuns += tracedPass(p) else warm += pass(p, None)
      p += 1
    }
    heap += Harness.liveHeap()
    val mismatches = check()

    // per-key warm medians over the steady untraced passes
    val keyWarm = keys.map(k =>
      k -> median(steady(warm.toSeq).flatMap(_.keys.filter(_.key == k).map(_.totalS))))
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("cold_pass_s") = cold.wallS
    m("warm_pass_s") = median(steady(warm.toSeq).map(_.wallS))
    m("live_heap_peak_mb") = heap.max / 1048576.0
    if (traced) {
      m ++= layerMetrics(tracedRuns.toSeq)
      m("tables.register_s") = registerS
      m("jvm.jit_s") = jit1 - jit0
      m("jvm.gc_s") = gc1 - gc0
      m("codegen.compilations") = cg1 - cg0
      m("write_s") = keyWarm.filter(kv => writeKeys(kv._1)).map(_._2).sum
      m("read_s") = keyWarm.filterNot(kv => writeKeys(kv._1)).map(_._2).sum
      m("failed_frac") = failed.toDouble / attempted
      keyWarm.groupBy(_._1.takeWhile(_ != '_')).foreach { case (f, ks) =>
        m(s"family.$f.warm_s") = ks.map(_._2).sum
      }
      m("trace.overhead_frac") =
        median(steady(tracedRuns.toSeq.map(_.pass)).map(_.wallS)) / m("warm_pass_s") - 1
      writeTrace(out, tracedRuns.toSeq, keyWarm.toMap)
    }
    Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toMap, "mismatches" -> mismatches,
      "unstable" -> keys.filter(k => goldens.get(k).exists(!_.stable)),
      "passes" -> Map("cold" -> cold.wallS, "warm" -> warm.toSeq.map(_.wallS),
        "traced" -> tracedRuns.toSeq.map(_.pass.wallS), "heap_mb" -> heap.toSeq.map(_ / 1048576)),
      "keys" -> keys.map(k => k -> Map("cold_s" -> cold.keys.find(_.key == k).get.totalS,
        "warm_s" -> keyWarm.toMap.apply(k),
        "warm_all_s" -> warm.toSeq.flatMap(_.keys.filter(_.key == k).map(_.totalS)))),
      "metrics" -> m.toSeq))
  }

  /** Per-pass layer numbers of one traced pass, from all its keys. */
  def passLayers(t: TracedPass): Map[String, Double] = {
    val s = t.trace.stats.values.toSeq
    def sum(f: KeyStats => Long) = s.map(f).sum.toDouble
    val jobs = s.flatMap(_.jobIvs)
    val tasks = s.flatMap(_.taskIvs)
    Map(
      "construct.wall_s" -> t.pass.keys.map(_.constructS).sum,
      "construct.jobs" -> sum(_.constructJobs),
      "plan.analysis_s" -> sum(_.analysisMs) / 1e3,
      "plan.optimization_s" -> sum(_.optimizationMs) / 1e3,
      "plan.planning_s" -> sum(_.planningMs) / 1e3,
      "plan.queries" -> sum(_.queries),
      "sched.jobs" -> sum(_.jobs),
      "sched.stages" -> sum(_.stages),
      "sched.tasks" -> sum(_.tasks),
      "sched.idle_s" -> Intervals.idle(jobs, tasks) / 1e3,
      "sched.util" -> sum(_.runMs) / 1e3 / (t.pass.wallS * cores),
      "task.run_s" -> sum(_.runMs) / 1e3,
      "task.cpu_s" -> sum(_.cpuNs) / 1e9,
      "task.gc_s" -> sum(_.gcMs) / 1e3,
      "task.failed" -> sum(_.failedTasks),
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill.bytes" -> sum(_.spill),
      "scan.bytes" -> sum(_.scanBytes),
      "scan.rows" -> sum(_.scanRows),
      "index.publishes" -> t.publishes.toDouble,
      "index.artifact_bytes" -> t.artifactBytes.toDouble) ++ t.leak
  }

  /** Each layer metric is the median over the traced passes. */
  def layerMetrics(ts: Seq[TracedPass]): Map[String, Double] = {
    val per = ts.map(passLayers)
    per.head.keys.map(k => k -> median(per.map(_(k)))).toMap
  }

  /** The per-key layer table (medians over traced passes) and every span. */
  def writeTrace(out: String, ts: Seq[TracedPass], keyWarm: Map[String, Double]): Unit = {
    val table = keys.sorted.map { k =>
      val rows = ts.map { t =>
        val st = t.trace.stats.getOrElse(s"p${t.pass.index}/$k", new KeyStats)
        val kr = t.pass.keys.find(_.key == k).get
        Map("construct_s" -> kr.constructS, "query_s" -> kr.queryS,
          "construct_jobs" -> st.constructJobs.toDouble, "jobs" -> st.jobs.toDouble,
          "stages" -> st.stages.toDouble, "tasks" -> st.tasks.toDouble,
          "idle_s" -> Intervals.idle(st.jobIvs.toSeq, st.taskIvs.toSeq) / 1e3,
          "util" -> st.runMs / 1e3 / (kr.totalS * cores),
          "task_run_s" -> st.runMs / 1e3, "task_cpu_s" -> st.cpuNs / 1e9,
          "task_gc_s" -> st.gcMs / 1e3,
          "analysis_s" -> st.analysisMs / 1e3, "optimization_s" -> st.optimizationMs / 1e3,
          "planning_s" -> st.planningMs / 1e3, "queries" -> st.queries.toDouble,
          "scan_bytes" -> st.scanBytes.toDouble, "scan_rows" -> st.scanRows.toDouble,
          "shuffle_write_bytes" -> st.shuffleWrite.toDouble,
          "shuffle_read_bytes" -> st.shuffleRead.toDouble,
          "spill_bytes" -> st.spill.toDouble)
      }
      k -> (rows.head.keys.toSeq.sorted.map(f => f -> median(rows.map(_(f)))) :+
        ("warm_s" -> keyWarm(k)))
    }
    Files.writeString(Paths.get(out + ".layers.json"), Json.obj(table))
    val spans = ts.flatMap(_.trace.spans).map(s => Json.obj(Seq("id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
    Files.writeString(Paths.get(out + ".spans.json"), spans.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Minimal JSON writer for the harness's own output. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case kvs: Seq[_] if kvs.forall(_.isInstanceOf[(_, _)]) && kvs.nonEmpty =>
      obj(kvs.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
