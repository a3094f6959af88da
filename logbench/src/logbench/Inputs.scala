package logbench

import graft.core.EventData

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** One generated event: what a client sends (`sent`, pretty-printed so the
  * log's minifier has work to do) and what the log must store (`stored`,
  * built independently of the program's minifier). */
final case class Gen(label: String, sent: String, stored: String) {
  def data: EventData = EventData(label, sent)
  def userBytes: Long =
    label.getBytes(StandardCharsets.UTF_8).length +
      sent.getBytes(StandardCharsets.UTF_8).length
}

/** Seeded workload inputs. Every event is a pure function of
  * (seed, stream, index), so the output checks regenerate the expected
  * payloads instead of keeping them.
  *
  * Payload mix: 90 % the reference bench's ~128 B five-key shape, 9 %
  * ~2 KiB and 1 % ~32 KiB objects; labels come from 8 seeded labels. */
final class Inputs(seed: Long) {
  import Inputs._

  val labels: Array[String] = {
    val r = new SplittableRandom(mix(seed, -1, 0))
    Array.fill(8) {
      val n = 4 + r.nextInt(9)
      (0 until n).map(_ => LabelChars.charAt(r.nextInt(LabelChars.length))).mkString
    }
  }

  def event(stream: Int, index: Long): Gen = {
    val r = new SplittableRandom(mix(seed, stream, index))
    val label = labels(r.nextInt(labels.length))
    val u = r.nextInt(100)
    val fields =
      if (u < 90) referenceShape(r)
      else if (u < 99) sized(r, 2 << 10)
      else sized(r, 32 << 10)
    Gen(label, pretty(fields), compact(fields))
  }
}

object Inputs {
  // streams: one per client thread, so inputs do not depend on scheduling
  val Preload = 100
  val Writer = 200
  def appender(c: Int): Int = 300 + c
  def reader(c: Int): Int = 400 + c

  private val LabelChars =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_-.~%"
  private val TextChars = "abcdefghijklmnopqrstuvwxyz0123456789 "

  def mix(seed: Long, stream: Int, index: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + index
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** (key, JSON literal) pairs; literals carry no insignificant whitespace. */
  private type Fields = Seq[(String, String)]

  private def str(s: String): String = "\"" + s + "\""

  private def text(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n)
    while (sb.length < n) sb.append(TextChars.charAt(r.nextInt(TextChars.length)))
    // strings keep inner spaces; a trailing one would still be significant
    sb.toString.trim match { case "" => "x" case s => s }
  }

  private def hexId(r: SplittableRandom): String =
    Seq(8, 4, 4, 4, 12).map(n => (0 until n).map(_ => "0123456789abcdef".charAt(r.nextInt(16))).mkString)
      .mkString("-")

  /** bench/bench_test.go:81-88: example / foo / bar / baz / fazz. Numbers
    * are integers over 10^4 rendered with four decimals, so every JSON
    * parser reads them back to the same text. */
  private def referenceShape(r: SplittableRandom): Fields = Seq(
    "example" -> str("benchmark"),
    "foo" -> "null",
    "bar" -> f"${1 + r.nextInt(99)}%d.${1 + r.nextInt(9)}%d${r.nextInt(10)}%d${1 + r.nextInt(9)}%d",
    "baz" -> (if (r.nextBoolean()) "true" else "false"),
    "fazz" -> str(hexId(r)))

  /** ~`bytes` of text fields plus an array, so minify crosses nesting. */
  private def sized(r: SplittableRandom, bytes: Int): Fields = {
    val b = Seq.newBuilder[(String, String)]
    b += "id" -> str(hexId(r))
    b += "tags" -> (0 until 3).map(_ => str(text(r, 6))).mkString("[", ",", "]")
    var size = 80
    var i = 0
    while (size < bytes) {
      val v = text(r, 120)
      b += s"f$i" -> str(v)
      size += v.length + 12
      i += 1
    }
    b.result()
  }

  private def compact(fs: Fields): String =
    fs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  // no generated string holds a comma, so spacing them only touches
  // the separators between array elements
  private def pretty(fs: Fields): String =
    fs.map { case (k, v) => s"  ${str(k)}: ${v.replace(",", ", ")}" }
      .mkString("{\n", ",\n", "\n}")
}
