package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` starts one of these per measured
  * process:
  *
  *   --mode batch   cold pass + timed warm passes over a query list
  *   --mode stream  start a streaming pipeline, run until stdin closes
  *
  * Every mode prints `PERFBENCH_READY <epoch ns>` on stdout when set-up is
  * done (the session exists and, for a stream, the query is started), and
  * writes its measurements as one JSON object to `--out`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val gc = new GcWatch
    val out: Map[String, Any] = opts("mode") match {
      case "batch" => BatchRun.run(opts, gc)
      case "stream" => StreamRun.run(opts, gc)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    val withGc = out ++ Map(
      "gc_ms" -> gc.gcMs, "live_heap_peak_mb" -> gc.livePeakBytes / 1048576.0)
    Files.writeString(Paths.get(opts("out")), Json.write(withGc))
  }

  def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def ready(): Unit = {
    println(s"PERFBENCH_READY ${epochNanos()}")
    System.out.flush()
  }

  /** The session every mode uses: `local[cores]`, one shuffle partition
    * per core, UTC, no UI; every scratch path inside `--work`. */
  def session(opts: Map[String, String], stateStore: Boolean = false): SparkSession = {
    val cores = opts("cores")
    val work = opts("work")
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (stateStore) b.config("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** GC time and the live heap: the heap used right after each collection,
  * summed over the heap pools, as the GC notifications report it. */
final class GcWatch {
  @volatile var livePeakBytes: Long = 0L
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  beans.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            synchronized { if (after > livePeakBytes) livePeakBytes = after }
          }
      }, null, null)
    case _ =>
  }

  def gcMs: Long = beans.map(_.getCollectionTime).filter(_ >= 0).sum
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}
