package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.engine.MapReduce
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: create the session, set up K times, run
  * timed passes for the requested seconds, write raw records as JSON.
  *
  * Load is closed-loop with one client: ops run one at a time. Every layer
  * is observed from outside the program — wall clocks around the public
  * calls, Spark's public listeners, and each action's executed plan.
  *
  * Usage: Runner <config.json> <result.json>. The config is written by
  * perfbench/run.py; the result is read back by it.
  */
object Runner {
  private val mapper = new ObjectMapper()
  private val OpProp = "perfbench.op"

  final case class Op(name: String, kind: String, module: String)

  final case class OpRecord(
      name: String,
      module: String,
      id: String,
      startMs: Long,
      endMs: Long,
      builderS: Double,
      actionS: Double,
      error: String,
      out: String,
      stealS: Double
  ) {
    def wallS: Double = (endMs - startMs) / 1e3
  }

  final case class Span(id: Int, parent: Int, name: String, op: String, startMs: Long, endMs: Long)

  def main(args: Array[String]): Unit = {
    val conf = mapper.readTree(new File(args(0)))
    val result = new Runner(conf).run()
    Files.writeString(Paths.get(args(1)), mapper.writerWithDefaultPrettyPrinter().writeValueAsString(result))
  }

  /** utime + stime + cutime + cstime of this process, in seconds. The
    * children's share counts the mapper and reducer processes `RDD.pipe`
    * starts once the JVM has reaped them.
    */
  def processCpuS(clkTck: Double): Double = {
    val stat = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
    (11 to 14).map(i => f(i).toLong).sum / clkTck
  }

  /** Host time stolen from this VM's CPUs (the `steal` column of
    * /proc/stat), in CPU-seconds summed over all CPUs.
    */
  def stealS(clkTck: Double): Double = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    cpu(8).toLong / clkTck
  }

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

final class Runner(conf: JsonNode) {
  import Runner._

  private val cores = conf.get("cores").asInt
  private val clkTck = conf.get("clk_tck").asDouble
  private val seconds = conf.get("seconds").asDouble
  private val traced = conf.get("trace").asBoolean
  private val workDir = conf.get("work_dir").asText
  private val ops = conf.get("ops").elements.asScala.map { o =>
    Op(o.get("name").asText, o.get("kind").asText, o.get("module").asText)
  }.toVector
  private val setupDirs = conf.get("setup_dirs").elements.asScala.map(_.asText).toVector
  private val mr = conf.get("mr")

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextSpan = 0
  private var opSeq = 0
  private lazy val listener = new Listener(spans)
  private var spark: SparkSession = _
  // spans are kept for session creation and the listener-on passes
  private var recording = traced

  private def span[T](name: String, parent: Int, op: String)(body: Int => T): T = {
    val id = { nextSpan += 1; nextSpan }
    val t0 = System.currentTimeMillis()
    try body(id)
    finally if (recording) spans += Span(id, parent, name, op, t0, System.currentTimeMillis())
  }

  def run(): java.util.Map[String, Any] = {
    val out = new java.util.LinkedHashMap[String, Any]()
    val steal0 = stealS(clkTck)
    val t0 = System.nanoTime()
    spark = span("session", 0, "")(_ => graft.GraftSession.local(cores, "perfbench"))
    val createS = (System.nanoTime() - t0) / 1e9
    if (traced) attach()
    val tw = System.nanoTime()
    spark.range(0, 200000, 1, cores).selectExpr("sum(id % 7)").collect()
    val warmupS = (System.nanoTime() - tw) / 1e9
    out.put("session_create_s", createS)
    out.put("warmup_s", warmupS)
    out.put("session_steal_s", stealS(clkTck) - steal0)

    // set-up k: one untimed pass over the op list; for table workloads each
    // set-up reads a fresh copy of the input, so every artifact is rebuilt
    val setups = setupDirs.zipWithIndex.map { case (dir, k) =>
      pass(s"setup${k + 1}", dir, record = traced && k == 0)
    }
    out.put("setups", setups.map(_.toJava).asJava)

    val dir = setupDirs.last
    val timed = mutable.ArrayBuffer.empty[PassResult]
    val untraced = mutable.ArrayBuffer.empty[PassResult]
    val tStart = System.nanoTime()
    // traced runs alternate listener-off and listener-on passes, so the
    // tracing overhead is an interleaved A/B inside one JVM
    while (timed.size < (if (traced) 2 else 1) || untraced.size < (if (traced) 2 else 0) ||
           (System.nanoTime() - tStart) / 1e9 < seconds) {
      val on = traced && (timed.size + untraced.size) % 2 == 1
      if (traced && !on) detach()
      if (on) attach()
      val p = pass(s"timed${timed.size + untraced.size + 1}", dir, record = on)
      if (traced && !on) untraced += p else timed += p
    }
    if (traced) attach()
    out.put("timed", timed.map(_.toJava).asJava)
    out.put("untraced", untraced.map(_.toJava).asJava)

    out.put("oracle_sql", ops.filter(_.kind == "query")
      .map(o => o.name -> graft.SparkEntry.oracleSql.getOrElse(o.name, "")).toMap.asJava)

    if (traced) {
      out.put("layers", layers(setups.head, timed.toSeq))
      out.put("spans", spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs).asJava).asJava)
    }
    out.put("retained_heap_mb", retainedHeapMb())
    spark.stop()
    out
  }

  // ---------------------------------------------------------------------
  // passes and ops

  final class PassResult(val name: String, val wallS: Double, val cpuS: Double, val gcS: Double,
                         val stealS: Double, val ops: Seq[OpRecord], val warehouse: (Int, Double)) {
    def toJava: java.util.Map[String, Any] = Map[String, Any](
      "name" -> name, "wall_s" -> wallS, "cpu_s" -> cpuS, "gc_s" -> gcS, "steal_s" -> stealS,
      "ops" -> ops.map(o => Map[String, Any](
        "name" -> o.name, "module" -> o.module, "wall_s" -> o.wallS, "builder_s" -> o.builderS,
        "action_s" -> o.actionS, "error" -> o.error, "out" -> o.out, "steal_s" -> o.stealS).asJava).asJava
    ).asJava
  }

  private def pass(name: String, dir: String, record: Boolean): PassResult = {
    recording = record
    val before = if (record) warehouseCensus() else Map.empty[String, (Long, Long)]
    val cpu0 = processCpuS(clkTck)
    val steal0 = stealS(clkTck)
    val gc0 = gcS
    val t0 = System.nanoTime()
    val recs = span(name, 0, "") { sid =>
      ops.map(op => runOp(op, dir, name, sid, record))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS(clkTck) - cpu0
    val steal = stealS(clkTck) - steal0
    val gc = gcS - gc0
    val built =
      if (!record) (0, 0.0)
      else {
        val after = warehouseCensus()
        val changed = after.filter { case (k, v) => !before.get(k).contains(v) }
        (changed.size, changed.values.map(_._1).sum / 1e6)
      }
    if (record) fence()
    new PassResult(name, wall, cpu, gc, steal, recs, built)
  }

  private def runOp(op: Op, dir: String, passName: String, passSpan: Int, record: Boolean): OpRecord = {
    opSeq += 1
    val id = s"$passName/${op.name}"
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProp, if (record) id else null)
    var builderS = 0.0
    var actionS = 0.0
    var out = ""
    val steal0 = stealS(clkTck)
    val start = System.currentTimeMillis()
    val error =
      try {
        span("op", passSpan, id) { opSpan =>
          out = s"$workDir/out/$opSeq-${op.name}"
          op.kind match {
            case "query" =>
              // the result goes to parquet so that run.py can compare every
              // op's answer with the oracle
              val tb = System.nanoTime()
              val df = span("builder", opSpan, id)(_ => graft.SparkEntry.queries(op.name)(spark, dir))
              builderS = (System.nanoTime() - tb) / 1e9
              val ta = System.nanoTime()
              span("action", opSpan, id)(_ => df.write.parquet(out))
              actionS = (System.nanoTime() - ta) / 1e9
            case kind =>
              val ta = System.nanoTime()
              span("runJob", opSpan, id)(_ => mrJob(kind, out))
              actionS = (System.nanoTime() - ta) / 1e9
          }
        }
        ""
      } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
    val end = System.currentTimeMillis()
    val rec = OpRecord(op.name, op.module, id, start, end, builderS, actionS, error, out, stealS(clkTck) - steal0)
    sc.setLocalProperty(OpProp, null)
    if (record) listener.ops += rec
    rec
  }

  /** The reference's job descriptors: word count and grep, as Scala
    * closures through `runJob` and as shell pipelines through `runExecJob`.
    */
  private def mrJob(kind: String, out: String): Unit = {
    val in = mr.get("input_dir").asText
    val m = mr.get("num_mappers").asInt
    val r = mr.get("num_reducers").asInt
    val word = mr.get("grep_word").asText
    kind match {
      case "wc" =>
        MapReduce.runJob(spark, in, out,
          mapper = line => line.toLowerCase.split("[ \t]", -1).iterator.map(w => (w, "1")),
          reducer = (w, ones) => Iterator.single(s"$w\t${ones.size}"),
          numMappers = m, numReducers = r)
      case "grep" =>
        MapReduce.runJob(spark, in, out,
          mapper = line =>
            if (line.trim.nonEmpty && line.toLowerCase.contains(word)) Iterator.single(("1", line))
            else Iterator.empty,
          reducer = (_, lines) => lines,
          numMappers = m, numReducers = r)
      case "exec_wc" =>
        MapReduce.runExecJob(spark, in, out, mr.get("wc_map").asText, mr.get("wc_reduce").asText, m, r)
      case "exec_grep" =>
        MapReduce.runExecJob(spark, in, out, mr.get("grep_map").asText, mr.get("grep_reduce").asText, m, r)
    }
  }

  // ---------------------------------------------------------------------
  // tracing

  private def attach(): Unit = if (!listener.attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener.qeListener)
    listener.attached = true
  }

  private def detach(): Unit = if (listener.attached) {
    fence()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener.qeListener)
    listener.attached = false
  }

  /** Listener events arrive asynchronously. A marker job plus a marker
    * query, waited for on both listeners, guarantees every earlier event
    * has been delivered.
    */
  private def fence(): Unit = {
    val marker = s"perfbench_fence_${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setLocalProperty(OpProp, marker)
    spark.range(1).selectExpr(s"'$marker' AS m").collect()
    sc.setLocalProperty(OpProp, null)
    val deadline = System.currentTimeMillis() + 60000
    while (!(listener.fenceJobs.contains(marker) && listener.fenceQueries.contains(marker)) &&
           System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** Top-level artifact entries of the warehouse and of the JVM temp dir
    * (the `tmpDirOnce` artifacts), each as (bytes, newest mtime).
    */
  private def warehouseCensus(): Map[String, (Long, Long)] = {
    val wh = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir").replaceFirst("^/", "file:/")).getPath)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    def walk(f: File): (Long, Long) =
      if (f.isFile) (f.length, f.lastModified)
      else Option(f.listFiles).getOrElse(Array.empty[File]).map(walk)
        .foldLeft((0L, f.lastModified)) { case ((b, m), (b2, m2)) => (b + b2, math.max(m, m2)) }
    val entries = Option(wh.listFiles).getOrElse(Array.empty[File]).toSeq ++
      Option(tmp.listFiles).getOrElse(Array.empty[File]).toSeq
        .filter(f => f.getName.startsWith("graft") && !f.getName.startsWith("graft-warehouse-"))
    entries.map(f => f.getPath -> walk(f)).toMap
  }

  /** Per-layer metrics of the listener-on timed passes `timed`. */
  private def layers(setup1: PassResult, timed: Seq[PassResult]): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    val sessionS = spans.find(_.name == "session").map(s => (s.endMs - s.startMs) / 1e3).getOrElse(0.0)
    m.put("session.create_s", sessionS)
    listener.summarise(m, timed.map(_.name).toSet, timed.head.name, cores, ops.map(_.module).distinct)
    m.put("jvm.gc_s", timed.map(_.gcS).sum / timed.size)
    m.put("warehouse.artifacts_built", setup1.warehouse._1)
    m.put("warehouse.bytes_written_mb", setup1.warehouse._2)
    m.put("warehouse.warm_rebuilds", timed.map(_.warehouse._1).sum)
    m.put("engine.md5_ns_per_key", md5NsPerKey())
    m
  }

  /** `md5Partition` over the input's distinct keys, swept until at least
    * 200k calls: median of five such sweeps.
    */
  private def md5NsPerKey(): Double = {
    val keys = Files.readAllLines(Paths.get(conf.get("keys_file").asText)).asScala.toArray
    val r = mr.get("num_reducers").asInt
    val rounds = math.max(1, 200000 / keys.length)
    var sink = 0L
    val sweeps = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      for (_ <- 1 to rounds; k <- keys) sink += MapReduce.md5Partition(k, r)
      (System.nanoTime() - t0).toDouble / (rounds.toLong * keys.length)
    }
    if (sink < 0) println(sink)
    median(sweeps)
  }

  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    median((1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1e6
    })
  }
}
