package perfbench

import java.lang.management.ManagementFactory
import java.nio.{ByteOrder, LongBuffer}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Minimal JSON writer for the result file (maps, sequences, numbers). */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => quote(other.toString)
  }

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), apply(v))

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(Files.readString(Paths.get(path)))
}

/** Little-endian int64/float64 column files written by gen.py. */
object Columns {
  private def buffer(p: Path): java.nio.ByteBuffer = {
    val ch = FileChannel.open(p, StandardOpenOption.READ)
    try ch.map(FileChannel.MapMode.READ_ONLY, 0, ch.size()).order(ByteOrder.LITTLE_ENDIAN)
    finally ch.close()
  }

  def longs(dir: String, name: String): Array[Long] = {
    val b: LongBuffer = buffer(Paths.get(dir, s"$name.bin")).asLongBuffer()
    val out = new Array[Long](b.remaining())
    b.get(out)
    out
  }

  def doubles(dir: String, name: String): Array[Double] = {
    val b = buffer(Paths.get(dir, s"$name.bin")).asDoubleBuffer()
    val out = new Array[Double](b.remaining())
    b.get(out)
    out
  }
}

/** Highest live heap seen: heap in use right after a full collection,
  * sampled at unit boundaries (between queries or triggers, outside their
  * timed spans), where the young generation's garbage cannot blur it. */
final class HeapPeak {
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}
