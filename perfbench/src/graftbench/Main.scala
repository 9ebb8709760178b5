package graftbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** What one run reports: operation accounting, the metrics by name
  * (value, unit), and every correctness check with its verdict.
  */
final class Result {
  var attempted = 0L
  var failed = 0L
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** a check passes when `ok`; its negative control passes when the
    * same check rejects a deliberately wrong answer
    */
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = ok
    if (!ok) Console.err.println(s"CHECK FAILED: $name")
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    val cs = checks.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"correct":${checks.values.forall(identity)},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms},"checks":{$cs}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

object Stats {
  /** the p-th percentile (0..100) by nearest rank */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }
  def gmean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Benchmark entry point. One process runs one workload:
  *
  *   graftbench.Main --workload NAME --data DIR --work DIR
  *                   --seed N --seconds S --trace 0|1
  *
  * DATA holds the seeded inputs (perfbench/gen.py); WORK is a scratch
  * directory the run owns (Spark local dir, warehouse, dumped query
  * outputs, spans). The last stdout line is the result JSON.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = new java.io.File(a("work")).getAbsolutePath
    val traced = a.getOrElse("trace", "0") == "1"
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = new Trace(spark, traced)
    val res = new Result
    val run = Run(spark, trace, res, a("data"), work, a("seed").toLong,
      a("seconds").toDouble)
    try {
      workload match {
        case "llm_3x" => Batch.run(run)
        case "store_mixed" => StoreMixed.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (traced) trace.write(java.nio.file.Paths.get(work, "spans.jsonl"))
      println(res.json)
    } finally spark.stop()
  }
}

final case class Run(spark: SparkSession, trace: Trace, res: Result,
                     data: String, work: String, seed: Long, seconds: Double) {
  def traced: Boolean = trace.enabled

  /** driver heap still live after a full collection, in MB: the heap
    * pools' usage as each collector left it, so nothing allocated after
    * the collection counts. Spark frees broadcast and shuffle blocks
    * asynchronously once a collection finds their handles dead, hence
    * the repeated collections.
    */
  def retainedHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}

/** The per-layer metric names every traced run prints. A layer the
  * workload never calls reads 0: no calls, no time, no jobs.
  */
object Layers {
  val all: Seq[(String, String)] = Batch.layerMetrics ++ StoreMixed.layerMetrics

  def report(res: Result, values: Map[String, Double]): Unit = {
    val unknown = values.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    all.foreach { case (n, u) => res.metric(n, values.getOrElse(n, 0.0), u) }
  }
}
