package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Order-free digest of a query result.
  *
  * Columns are taken in name order and rows in the byte order of their
  * rendering, so two results digest alike exactly when they hold the
  * same multiset of rows (the comparison `tools/check_oracle.py` makes).
  * Floating values render as their IEEE bits, so the digest is bit-exact
  * like the oracle gate; decimals render as the nearest double,
  * as the gate's pandas comparison sees them. `pin.py` renders DuckDB
  * rows with the same rules, so the digests compare across engines.
  */
final case class Digest(rows: Long, digest: String)

object Digest {

  def of(schema: StructType, rows: Array[Row]): Digest = {
    val order = schema.fields.indices.sortBy(i => schema.fields(i).name)
    val rendered = rows.map { r =>
      order.map(i => render(r.get(i), schema.fields(i).dataType))
        .mkString("\u001f").getBytes(UTF_8)
    }
    java.util.Arrays.sort(rendered, unsignedBytes)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fields(_).name).mkString("\u001f").getBytes(UTF_8))
    rendered.foreach { b => md.update('\n'.toByte); md.update(b) }
    Digest(rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private val unsignedBytes: java.util.Comparator[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  private def dbl(d: Double): String = {
    val x = if (d == 0.0) 0.0 else d // -0.0 equals 0.0 under the gate
    "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(x))
  }

  private def str(s: String): String =
    "s" + s.replace("\\", "\\\\").replace("\n", "\\n").replace("\u001f", "\\u001f")

  private def micros(seconds: Long, nanos: Long): Long =
    Math.addExact(Math.multiplyExact(seconds, 1000000L), nanos / 1000L)

  def render(v: Any, dt: DataType): String = (v, dt) match {
    case (null, _) => "\\N"
    case (b: Boolean, _) => b.toString
    case (x: Float, _) => dbl(x.toDouble)
    case (x: Double, _) => dbl(x)
    case (x: java.math.BigDecimal, _) =>
      dbl(java.lang.Double.parseDouble(x.toString))
    case (x: Byte, _) => x.toString
    case (x: Short, _) => x.toString
    case (x: Int, _) => x.toString
    case (x: Long, _) => x.toString
    case (s: String, _) => str(s)
    case (b: Array[Byte], _) => "x" + b.map(c => f"${c & 0xff}%02x").mkString
    case (d: java.sql.Date, _) => "d" + d.toLocalDate.toEpochDay
    case (d: java.time.LocalDate, _) => "d" + d.toEpochDay
    case (t: java.sql.Timestamp, _) =>
      "t" + micros(Math.floorDiv(t.getTime, 1000L), t.getNanos.toLong)
    case (t: java.time.Instant, _) => "t" + micros(t.getEpochSecond, t.getNano.toLong)
    case (t: java.time.LocalDateTime, _) =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano.toLong)
    case (xs: scala.collection.Seq[_], ArrayType(et, _)) =>
      xs.map(render(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => (render(k, kt), render(x, vt)) }
        .sortBy(_._1).map { case (k, x) => k + ":" + x }.mkString("{", ",", "}")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => render(r.get(i), st.fields(i).dataType))
        .mkString("(", ",", ")")
    case (other, _) => "?" + other.toString
  }
}
