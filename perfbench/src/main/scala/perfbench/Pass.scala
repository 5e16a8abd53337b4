package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload pass: the session it runs in, where it may write, and the
  * operations it attempted, failed and how long each took.
  *
  * `check` marks the pass whose outputs are kept for the oracle
  * comparison instead of going to the noop sink. */
final class Pass(val spark: SparkSession, val tracer: Tracer, val dir: Path,
                 val check: Boolean) {
  val attempted = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  val failed = mutable.LinkedHashMap.empty[String, Int].withDefaultValue(0)
  val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  val notes = mutable.ArrayBuffer.empty[String]
  /** Workload-specific per-pass values (recall, store bytes, ...). */
  val values = mutable.LinkedHashMap.empty[String, Double]

  /** Run one operation; an exception counts it failed and the pass goes
    * on, so later operations that depend on it fail too. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted(name) += 1
    val t0 = System.nanoTime()
    try Some(body)
    catch { case NonFatal(e) => fail(name, e.toString); None }
    finally latencies += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Count `n` already-attempted `name` operations as failed (a wrong
    * output); never more than were attempted. */
  def fail(name: String, why: String, n: Int = 1): Unit = {
    failed(name) = math.min(attempted(name), failed(name) + n)
    if (notes.size < 20) notes += s"$name: ${why.take(300)}"
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def attemptedTotal: Int = attempted.values.sum
  def failedTotal: Int = failed.values.sum
}

object Pass {
  def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }

  /** Copy the tree under `from` to `to`. */
  def copyTree(from: Path, to: Path): Unit = {
    val s = java.nio.file.Files.walk(from)
    try s.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(f, t)
    } finally s.close()
  }

  /** (bytes, regular files) under `p`. */
  def treeSize(p: Path): (Long, Long) =
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        var bytes, files = 0L
        s.filter(java.nio.file.Files.isRegularFile(_)).forEach { f =>
          bytes += java.nio.file.Files.size(f); files += 1
        }
        (bytes, files)
      } finally s.close()
    }
}
