package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import org.apache.spark.BenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed operation of a pass. `body` may record sub-timings in `rec`;
  * `observe` runs untimed after it, on the checked pass only. */
final case class Op(name: String, body: JMap[String, Any] => Unit,
                    observe: () => Unit = () => ())

/** A workload: the operations of one pass, the untimed output check, and
  * the clean-up between passes. The cold pass runs `ops` with `observe`,
  * then `check`. */
trait Workload {
  def ops(pass: Int, observe: Boolean): Seq[Op]
  def check(pass: Int): JMap[String, Any]
  def cleanup(pass: Int): Unit = ()
}

/** The benchmark's JVM side. It drives graft only through public entry
  * points, measures every operation in a closed loop with one client, and
  * writes raw timings, listener counts and spans to one JSON file. All
  * arithmetic over them (medians, percentiles, self time) is done by
  * `bench/run.py`.
  *
  * Usage: graftbench.Main <config.json> (written by bench/run.py). */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(new File(args(0)))
    new Run(cfg).run()
  }

  def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def cause(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(root.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"${root.getClass.getSimpleName}: ${msg.take(300)}"
  }
}

final class Run(cfg: JsonNode) {
  import Main.jmap

  val workload: String = cfg.get("workload").asText
  val seed: Long = cfg.get("seed").asLong
  val seconds: Double = cfg.get("seconds").asDouble
  val cores: Int = cfg.get("cores").asInt
  val root: String = cfg.get("run_root").asText
  val traceRun: Boolean = cfg.get("trace").asBoolean
  val tracer = new Tracer(s"$workload-s$seed-${if (traceRun) "traced" else "plain"}")
  val counters = new Counters
  var spark: SparkSession = _
  private var execSpan: Span = _
  private var constructSpan: Span = _

  def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def listen(on: Boolean): Unit =
    if (on) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    } else {
      spark.sparkContext.removeSparkListener(counters)
      spark.listenerManager.unregister(counters)
    }

  /** graft.Bench's untimed settle: drop cached and persisted blocks
    * (blocking), then collect garbage outside any timed region. It first
    * lets the listener bus deliver every event posted so far, so the next
    * op does not share the CPU with the last op's event handling — in a
    * traced pass or not. */
  def settle(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** The heap the last GC left in use, summed over the heap pools: what
    * threads allocate after that GC does not count. */
  private def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).flatMap(p => Option(p.getCollectionUsage))
      .map(_.getUsed).sum / (1024.0 * 1024.0)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Timed query op: construction, then a full materialization through the
    * `noop` sink (a count() would let Catalyst prune projections). */
  def queryOp(name: String, fn: Option[(SparkSession, String) => DataFrame],
              dir: String): Op = Op(name, rec => {
    if (fn.isEmpty) throw new NoSuchElementException(s"no registered query $name")
    val t0 = System.nanoTime()
    constructSpan = tracer.open("queries.construct")
    val df = try fn.get(spark, dir) finally tracer.close(constructSpan)
    val t1 = System.nanoTime()
    rec.put("construct_ms", (t1 - t0) / 1e6)
    execSpan = tracer.open("spark.exec")
    try df.write.mode("overwrite").format("noop").save() finally tracer.close(execSpan)
    rec.put("exec_ms", (System.nanoTime() - t1) / 1e6)
  })

  def runOp(op: Op, observe: Boolean): JMap[String, Any] = {
    val rec = jmap("name" -> op.name)
    val traced = tracer.enabled
    if (traced) { BenchBus.drain(spark.sparkContext); counters.drainPhases() }
    val c0 = if (traced) counters.take() else Map.empty[String, Long]
    val assets0 = graft.Assets.snapshot
    execSpan = null; constructSpan = null
    val gc0 = gcMs()
    val span = tracer.open("op")
    span.attrs("op") = op.name
    val t0 = System.nanoTime()
    val err = try { op.body(rec); None } catch { case e: Throwable => Some(Main.cause(e)) }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.close(span)
    rec.put("ms", ms)
    rec.put("gc_ms", gcMs() - gc0)
    rec.put("ok", err.isEmpty)
    err.foreach(rec.put("error", _))
    val built = graft.Assets.snapshot.filter { case (k, v) => !assets0.get(k).contains(v) }
    rec.put("assets", jmap(built.toSeq: _*))
    if (traced) {
      BenchBus.drain(spark.sparkContext)
      val c1 = counters.take()
      val delta = c1.map { case (k, v) => k -> (if (k == "max_task_ms") v else v - c0(k)) }
      delta.foreach { case (k, v) => rec.put(k, v); span.attrs(k) = v }
      // Catalyst phases of the materializing write (a query op's noop
      // write, or any query an ETL op runs). Phases of queries run during
      // construction stay in construction's self time.
      val phaseParent = Option(execSpan).getOrElse(span)
      var planMs = 0L
      counters.drainPhases().foreach { case (ph, s, e) =>
        val (a, b) = (tracer.fromMillis(s), tracer.fromMillis(e))
        if ((a + b) / 2 >= phaseParent.start && (a + b) / 2 <= phaseParent.end) {
          planMs += e - s
          tracer.synthetic(phaseParent, s"catalyst.$ph", a, b)
        }
      }
      rec.put("plan_ms", planMs)
      val buildParent = Option(constructSpan).getOrElse(span)
      built.foreach { case (a, sec) =>
        tracer.synthetic(buildParent, s"assets.build.$a",
          buildParent.end - (sec * 1e9).toLong, buildParent.end)
      }
    }
    if (observe && err.isEmpty)
      try op.observe() catch { case e: Throwable => rec.put("check_error", Main.cause(e)) }
    settle()
    rec
  }

  def pass(w: Workload, kind: String, index: Int, traced: Boolean,
           observe: Boolean = false): JMap[String, Any] = {
    tracer.enabled = traced
    if (traceRun) listen(traced)
    val ps = tracer.open("pass")
    ps.attrs("kind") = kind
    val loads = if (traced && workload != "etl") probeLoads() else new JList[Any]()
    val recs = new JList[Any]()
    w.ops(index, observe).foreach(op => recs.add(runOp(op, observe)))
    tracer.close(ps)
    tracer.enabled = false
    if (traceRun) listen(false)
    w.cleanup(index)
    jmap("kind" -> kind, "index" -> index, "traced" -> traced, "ops" -> recs,
      "table_loads_ms" -> loads)
  }

  /** The Tables.load probe of a traced pass: resolve each table's schema
    * once, outside every timed op. */
  private def probeLoads(): JList[Any] = {
    val dir = cfg.get("data").asText
    val out = new JList[Any]()
    graft.Tables.names.foreach { t =>
      val t0 = System.nanoTime()
      tracer.span("tables.load")(graft.Tables.load(spark, dir, t).schema)
      out.add((System.nanoTime() - t0) / 1e6)
    }
    out
  }

  /** Set-up is everything from JVM start to the first timed op: session
    * creation and the workload's preparation. */
  def run(): Unit = {
    new File(s"$root/tmp").mkdirs()
    spark = newSession()
    val w = workload match {
      case "etl" => new Etl(this, cfg.get("etl"))
      case _ => new Queries(this, cfg.get("queries").elements().asScala.map(_.asText).toSeq,
        cfg.get("data").asText)
    }
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val out = cfg.get("out").asText
    val passes = new JList[Any]()
    // The cold pass is also the checked one: the untimed output check
    // runs after it, when every memoized asset has been built once.
    passes.add(pass(w, "cold", 0, traced = traceRun, observe = true))
    val check = w.check(0)
    val minWarm = cfg.get("min_warm_passes").asInt
    val t0 = System.nanoTime()
    var n = 0
    // A traced run alternates untraced and traced warm passes and ends on
    // an untraced one, so each traced pass has an untraced pass on either
    // side to measure the tracing overhead against.
    while (n < minWarm || (System.nanoTime() - t0) / 1e9 < seconds ||
           (traceRun && n % 2 == 0)) {
      passes.add(pass(w, "warm", 1 + n, traced = traceRun && n % 2 == 1))
      n += 1
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    // Spark keeps state for the last query it ran, whose size depends on
    // the query; end on the same tiny query whatever the seed's order was.
    spark.range(1).write.mode("overwrite").format("noop").save()
    settle()
    // Spark's cleaner thread frees the blocks of finished queries only after
    // a GC found them unreachable, at its own pace; collect again until the
    // heap left in use stops shrinking.
    var heapMb = heapAfterGcMb()
    var before = Double.MaxValue
    var rounds = 0
    while (before - heapMb > 0.5 && rounds < 10) {
      Thread.sleep(250)
      System.gc()
      before = heapMb
      heapMb = heapAfterGcMb()
      rounds += 1
    }
    val res = jmap(
      "workload" -> workload, "seed" -> seed, "setup_s" -> setupS,
      "measure_s" -> measureS, "passes" -> passes, "check" -> check,
      "retained_heap_mb" -> heapMb, "spans" -> tracer.toJava)
    spark.stop()
    new ObjectMapper().writeValue(new File(out), res)
  }
}

/** `interactive`: registered queries in a seed-shuffled order. */
final class Queries(r: Run, names: Seq[String], dir: String) extends Workload {
  import Main.jmap

  // Loading the registry is part of set-up.
  private val registry = graft.SparkEntry.queries

  def ops(pass: Int, observe: Boolean): Seq[Op] =
    new scala.util.Random(r.seed * 1000003L + pass).shuffle(names)
      .map(n => r.queryOp(n, registry.get(n), dir))

  /** Untimed, after the cold pass: row count, column types and an
    * order-independent hash of each query's output — the sum of per-row
    * xxhash64 over the normalized row (doubles rounded to 6 places, maps as
    * sorted entry arrays). */
  def check(pass: Int): JMap[String, Any] = {
    val out = jmap()
    names.sorted.foreach { n =>
      out.put(n, try {
        val df = registry(n)(r.spark, dir)
        val cols = df.schema.fields.toSeq.zipWithIndex
        val renamed = df.toDF(cols.map { case (_, i) => s"c$i" }: _*)
        val h = if (cols.isEmpty) lit(0L)
          else xxhash64(cols.map { case (f, i) => Queries.norm(col(s"c$i"), f.dataType) }: _*)
        val row = renamed.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
        jmap("rows" -> row.getLong(0), "hash" -> String.valueOf(row.get(1)),
          "schema" -> df.schema.fields.map(_.dataType.simpleString).mkString(","))
      } catch { case e: Throwable => jmap("error" -> Main.cause(e)) })
      r.settle()
    }
    out
  }
}

object Queries {
  def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType if st.fields.nonEmpty =>
      struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }
}
