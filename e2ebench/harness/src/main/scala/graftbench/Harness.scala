package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point: `catalog` runs catalog passes ([[CatalogRun]]), `tax` runs
  * one traced CLI command ([[TaxTrace]]). Options are `--key value` pairs;
  * the result is one JSON document written to `--result`. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opts = args.tail.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val result = args.head match {
      case "catalog" => CatalogRun(opts)
      case "tax"     => TaxTrace(opts)
      case other     => sys.error(s"unknown mode: $other")
    }
    Files.write(Paths.get(opts("result")), Json(result).getBytes(UTF_8))
    // SparkContext.stop (and so the JVM's shutdown hook) spends ~12 s after
    // a catalog_heavy run deleting block, shuffle and temp files (4-core VM,
    // ext4 mounted with discard), which no metric measures. Those files sit
    // in the benchmark's work dir, cleared by benchlib/proc.py, so the
    // catalog JVM halts instead.
    if (args.head == "catalog") Runtime.getRuntime.halt(0)
  }

  /** The session settings the engine's own runners (Verify, Bench) use. */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-e2ebench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def failure(op: String, stage: String, e: Throwable): Map[String, Any] =
    Map("op" -> op, "stage" -> stage, "error" -> e.getClass.getName,
      "message" -> String.valueOf(e.getMessage).take(2000))

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Minimal JSON encoder for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
