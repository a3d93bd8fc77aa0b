package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** State of one benchmark run: the session, the tracer, the run's own
  * work root, and everything measured. The JVM only records raw
  * samples, spans, counts and check verdicts; `run.py` turns them into
  * the metric line. */
final class Run(val spark: SparkSession, val tracer: Tracer, val root: File,
    val seed: Long, val seconds: Int) {

  /** Everything the workload persists lives here; its size is read at
    * the end of the measured phase, and the root is deleted after. */
  val work = new File(root, "work")
  work.mkdirs()

  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, ArrayBuffer.empty) += v

  def count(key: String, v: Double): Unit = counts(key) = counts.getOrElse(key, 0.0) + v

  def countMax(key: String, v: Double): Unit = counts(key) = math.max(counts.getOrElse(key, v), v)

  def path(rel: String): String = new File(work, rel).getPath

  /** Seconds taken by `body`, and its result. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One attempted operation of the measured phase: an exception counts
    * it as failed (the run goes on) and yields None. */
  def attempt[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e")
        None
    }
  }

  /** A correctness check, run outside the measured phase. */
  def check(name: String)(ok: => Boolean, detail: => String = ""): Unit = {
    attempted += 1
    val (passed, why) =
      try { val p = ok; (p, if (p) "" else detail) }
      catch { case NonFatal(e) => (false, e.toString) }
    if (!passed) {
      failed += 1
      System.err.println(s"[perfbench] check $name FAILED: $why")
    }
    checks += ((name, passed, why))
  }

  /** Timed set-up: `generate` runs `reps` times (the median is reported,
    * and every repetition must give byte-identical inputs, by `digest`),
    * then `prepare` (initial copies and builds) runs once on the last
    * inputs. */
  def setUp[A](reps: Int)(generate: => A)(digest: A => String)(prepare: A => Unit): A = {
    val made = (1 to reps).map { _ =>
      val (a, s) = timed(generate)
      sample("setup_gen_s", s)
      a
    }
    check("inputs_byte_identical_for_seed")(made.map(digest).distinct.size == 1,
      made.map(digest).mkString(" "))
    count("setup_once_s", timed(prepare(made.last))._2)
    made.last
  }

  /** Closed-loop measured phase: rounds run back to back until `seconds`
    * have passed (the round in flight finishes; at least one runs). With
    * tracing on, every round is traced. */
  def rounds(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var r = 0
    tracer.active = tracer.enabled
    while (r == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      sample("round_s", timed(body(r))._2)
      r += 1
    }
    tracer.active = false
    count("rounds", r)
    count("work_dir_bytes", Run.bytesUnder(work))
  }

  def toJson: String = Json.obj(Seq(
    "seed" -> seed,
    "samples" -> samples.toSeq.map { case (k, v) => k -> v.toSeq }.toMap,
    "counts" -> counts.toMap,
    "checks" -> checks.toSeq.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
    "attempted" -> attempted,
    "failed" -> failed,
    "spans" -> tracer.records(),
    "trace_overhead_s" -> tracer.overheadNs / 1e9))
}

object Run {

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** Rows in the parquet files under `dir`, from their footers. */
  def parquetRows(dir: File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet")).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Bytes of the files under `f` modified at or after `sinceMs`. */
  def bytesNewer(f: File, sinceMs: Long): Long =
    if (f.isFile) (if (f.lastModified >= sinceMs) f.length() else 0L)
    else Option(f.listFiles()).map(_.map(bytesNewer(_, sinceMs)).sum).getOrElse(0L)

  /** Canonical text of a value: integral types print alike whatever
    * their width, doubles at the engine's 4-decimal contract, naive and
    * session-zone timestamps alike (the JVM runs in UTC). A result's
    * hash is then independent of how a loader typed its columns. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.4f"
    case x: Float => canon(x.toDouble)
    case b: java.math.BigDecimal => canon(b.doubleValue)
    case t: java.sql.Timestamp => canon(t.toLocalDateTime)
    case t: java.time.LocalDateTime => t.toString.replace('T', ' ')
    case t: java.time.Instant => canon(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case s: scala.collection.Map[_, _] => s.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  /** Order-insensitive content hash of collected rows. */
  def hashRows(rows: Seq[Row]): String = sha(rows.map(canon).sorted.mkString("\n"))

  def hash(df: DataFrame): String = hashRows(df.collect().toSeq)

  def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(StandardCharsets.UTF_8))
      .take(12).map("%02x".format(_)).mkString
}

/** Minimal JSON writer for the run record (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + of(v) }.mkString("{", ",", "}")

  def of(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(of).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
