package perfbench

import graft.{SparkEntry, Tables}
import java.lang.management.ManagementFactory
import java.nio.file.{FileSystems, Files, Path, Paths, StandardWatchEventKinds}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. `run.py` and `goldens.py` start it with one of
  * three modes and `name=value` options:
  *
  *   run     fixture= cores= keys= seed= seconds= trace= goldens= out=
  *   goldens fixture= cores= keys=                digest each key's result
  *   digest  fixture= cores= keys= dir=           digest `<dir>/<key>` parquet
  *
  * Every mode prints `PERFBENCH_READY <tables.register_s>` once the session
  * is up, the tables are registered and the warm-up scan is done; `run`
  * ends with one `PERFBENCH_RESULT <json>` line.
  */
object Harness {
  type Fn = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val opt = args.drop(1).map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"expected name=value, got $a")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    require(Set("run", "goldens", "digest")(mode), s"unknown mode '$mode'")
    val fixture = opt("fixture")
    val cores = opt("cores").toInt
    val keys = opt.get("keys").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val fns: Seq[Fn] = keys.map(k => SparkEntry.queries.getOrElse(k,
      throw new IllegalArgumentException(s"no registry key '$k'")))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores)
    val sessionUp = System.currentTimeMillis()
    val registerS = setUp(spark, fixture)
    System.err.println(s"[perfbench] jvm to session ${(sessionUp - jvmStart) / 1e3} s, " +
      s"session to ready ${(System.currentTimeMillis() - sessionUp) / 1e3} s")
    println(s"PERFBENCH_READY $registerS")
    System.out.flush()
    try mode match {
      case "run" =>
        val r = new Run(spark, fixture, cores, keys, fns, opt("seed").toLong,
          opt("seconds").toDouble, opt("trace") == "1", Goldens.read(opt("goldens")))
        println("PERFBENCH_RESULT " + r.execute(registerS, opt("out")))
      case "goldens" =>
        keys.zip(fns).foreach { case (k, fn) =>
          val d = Digest.of(fn(spark, fixture))
          println(s"PERFBENCH_DIGEST $k ${d.rows} ${d.hash}")
        }
      case "digest" =>
        keys.foreach { k =>
          val d = Digest.of(spark.read.parquet(s"${opt("dir")}/$k"))
          println(s"PERFBENCH_DIGEST $k ${d.rows} ${d.hash}")
        }
    } finally spark.stop()
  }

  /** The `graft.Bench` session: local[cores], shuffle partitions = cores,
    * AQE on, 16m splits, UI off; scratch space in the run's own directory.
    */
  def session(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get("spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The warm-up scan `graft.Bench` does, then `Tables.registerAll`, timed. */
  def setUp(spark: SparkSession, fixture: String): Double = {
    spark.read.parquet(s"$fixture/lineitem.parquet").groupBy("l_returnflag").count().count()
    val t0 = System.nanoTime()
    Tables.registerAll(spark, fixture)
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap bytes in use right after a full collection. Spark's context
    * cleaner releases broadcasts and shuffles only once a collection has
    * found them unreachable, so collect until the heap stops shrinking.
    */
  def liveHeap(): Long = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (prev, cur, rounds) = (Long.MaxValue, collect(), 1)
    while (rounds < 3 || (cur < prev - prev / 100 && rounds < 6)) {
      Thread.sleep(250)
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }
}

/** Row count and digest of each key at HEAD, from a `key rows hash stable`
  * TSV. An unstable key's digest differed between two recordings, so only
  * its row count is checked.
  */
final case class Golden(rows: Long, hash: String, stable: Boolean)

object Goldens {
  def read(path: String): Map[String, Golden] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(k, rows, hash, stable) = l.split("\t")
        k -> Golden(rows.toLong, hash, stable == "stable")
      }.toMap
}

/** Counts completed `IndexStore` publishes: a publish renames its finished
  * build directory into the store root, which shows as a directory entry
  * created there whose name is not a `.build-` or `.trash-` temporary.
  */
final class PublishWatch(root: Path) extends AutoCloseable {
  private val ws = FileSystems.getDefault.newWatchService()
  root.register(ws, StandardWatchEventKinds.ENTRY_CREATE)

  def count(): Int = Iterator.continually(ws.poll()).takeWhile(_ != null).map { k =>
    val n = k.pollEvents().asScala.count { e =>
      val name = String.valueOf(e.context())
      e.kind == StandardWatchEventKinds.ENTRY_CREATE &&
        !name.contains(".build-") && !name.contains(".trash-")
    }
    k.reset()
    n
  }.sum

  def close(): Unit = ws.close()
}
