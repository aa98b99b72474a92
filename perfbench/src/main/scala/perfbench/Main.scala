package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One recorded operation of a pass. */
final case class OpRecord(pass: Int, kind: String, name: String, ms: Double,
    ok: Boolean, digest: String)

/** The closed loop: one client thread issues the next operation only
  * after the previous one returned. Every operation is timed from
  * outside graft, around calls into its public module functions. */
final class Harness(val spark: SparkSession, val tracer: Tracer,
    val work: String, val data: String) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var pass = 0
  /** Per-op results of the latest pass, kept for verification. */
  val lastRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]

  /** Run one operation; the frame it returns (if any) is collected
    * inside the `exec` span, and its rows digested so every pass can
    * be compared with the others. A throw counts as failed. */
  def op(kind: String, name: String, exec: String = "exec")(
      body: => Option[DataFrame]): Unit = {
    tracer.beginOp()
    val t0 = System.nanoTime()
    val res: Either[Throwable, Option[(Array[Row], StructType)]] =
      try Right(tracer.span(s"op.$kind")(
        body.map(df => tracer.span(exec)((df.collect(), df.schema)))))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Left(e)
      }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(_) => records += OpRecord(pass, kind, name, ms, ok = false, "")
      case Right(Some((rows, schema))) =>
        lastRows(name) = (rows, schema)
        records += OpRecord(pass, kind, name, ms, ok = true, Harness.digest(rows))
      case Right(None) => records += OpRecord(pass, kind, name, ms, ok = true, "")
    }
  }

  /** Write the latest pass's rows of each op as parquet under `dir`. */
  def dumpRows(dir: String): Unit = lastRows.foreach { case (name, (rows, schema)) =>
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
  }
}

object Harness {
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}

/** A workload: input resolution, then a fixed list of operations per
  * pass, then a dump of what the verifier needs. */
trait Workload {
  def setup(h: Harness): Unit
  def pass(h: Harness): Unit
  def dump(h: Harness, out: String): Unit
}

object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val launchMs = a("launch-ms").toLong
    val seconds = a("seconds").toDouble
    val work = a("work")
    val tracer = new Tracer(a("trace") == "1")
    val wl: Workload = a("workload") match {
      case "vendor_dag" => new VendorDag
      case "table_commits" => new TableCommits
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // CPU time of every thread of this JVM since it started: the tasks,
    // the client thread, broadcast builds, the scheduler, JIT and GC.
    // Time the hypervisor gave to other guests is not in it.
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuNs: Long = os.getProcessCpuTime
    val cpus = Runtime.getRuntime.availableProcessors
    // the settings graft.Bench runs with, at local[nproc]
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.bind(spark.sparkContext)
    tracer.record(true)
    val h = new Harness(spark, tracer, work, a("data"))

    // setup: inputs resolved, then one untimed warm-up pass
    wl.setup(h)
    wl.pass(h)
    val setupCpuS = cpuNs / 1e9
    val setupWallS = (System.currentTimeMillis() - launchMs) / 1e3
    tracer.record(false)
    tracer.clearEngine()

    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcMs: Long = { var s = 0L; gc.forEach(b => s += math.max(0L, b.getCollectionTime)); s }
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    pools.forEach(_.resetPeakUsage())
    val gc0 = gcMs
    val passMs = mutable.ArrayBuffer.empty[Double]
    val passCpuMs = mutable.ArrayBuffer.empty[Double]
    val recorded = mutable.ArrayBuffer.empty[Boolean]
    val t0 = System.nanoTime()
    val minPasses = if (tracer.enabled) 3 else 1
    while (passMs.size < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      h.pass += 1
      // traced runs record the even passes; each recorded pass is
      // compared with the plain passes on both sides of it
      recorded += tracer.enabled && h.pass % 2 == 0
      tracer.record(recorded.last)
      val (c0, p0) = (cpuNs, System.nanoTime())
      wl.pass(h)
      passMs += (System.nanoTime() - p0) / 1e6
      passCpuMs += (cpuNs - c0) / 1e6
    }
    tracer.record(false)
    val measuredS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs - gc0) / 1e3
    var heapPeak = 0L
    pools.forEach(p => if (p.getType == java.lang.management.MemoryType.HEAP)
      heapPeak += p.getPeakUsage.getUsed)

    // verification outputs: outside every timed region
    val out = s"$work/out"
    wl.dump(h, out)
    val recs = h.records.map(r =>
      s"""{"pass":${r.pass},"kind":${Json.str(r.kind)},"name":${Json.str(r.name)},"ms":${r.ms},"ok":${r.ok},"digest":"${r.digest}"}""")
    val json =
      s"""{"setup_cpu_s":$setupCpuS,"setup_wall_s":$setupWallS,"measured_s":$measuredS,
         |"pass_ms":[${passMs.mkString(",")}],"pass_cpu_ms":[${passCpuMs.mkString(",")}],
         |"recorded":[${recorded.mkString(",")}],
         |"gc_s":$gcS,"heap_peak_mb":${heapPeak / 1048576.0},
         |"spark_version":${Json.str(spark.version)},"java_version":${Json.str(System.getProperty("java.version"))},
         |"cpus":$cpus,"ops":[${recs.mkString(",\n")}],
         |"trace":${if (tracer.enabled) tracer.json else "null"}}""".stripMargin
    Files.writeString(Paths.get(s"$work/result.json"), json)
    spark.stop()
  }
}
