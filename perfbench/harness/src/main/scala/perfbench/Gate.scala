package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Output gate, JVM half. Every timed result is reduced to a content hash
  * of its value-sorted rows. The first result with a given hash for a
  * query is written out in a typed JSON form; `benchlib/gate.py` decodes
  * it into the Python values DuckDB returns for the same Parquet data and
  * compares it with the DuckDB oracle, so every timed result is checked
  * through its hash. */
final class ResultStore(dir: java.io.File) {
  private val written = mutable.Set[String]()
  dir.mkdirs()

  /** Returns (hash, row count). */
  def record(query: String, schema: StructType, rows: Array[Row]): (String, Long) = {
    val types = schema.fields.map(_.dataType)
    val encoded = rows.map { r =>
      Json(types.indices.map(i => Gate.enc(if (r.isNullAt(i)) null else r.get(i), types(i))))
    }.sorted
    val header = Json(Map("query" -> query, "columns" -> schema.fieldNames.toSeq))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(Json(schema.fieldNames.toSeq).getBytes(UTF_8))
    encoded.foreach { line => md.update(line.getBytes(UTF_8)); md.update('\n'.toByte) }
    val hash = md.digest().take(16).map(b => f"${b & 0xff}%02x").mkString
    if (written.add(s"$query/$hash")) {
      val out = new java.io.File(dir, s"${query}__$hash.jsonl")
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        new java.io.FileOutputStream(out), UTF_8))
      try {
        w.write(header); w.write('\n')
        encoded.foreach { line => w.write(line); w.write('\n') }
      } finally w.close()
    }
    (hash, rows.length.toLong)
  }
}

object Gate {
  /** Typed JSON form of one value. Plain JSON carries booleans, integers,
    * finite doubles, strings and lists; tagged objects carry the rest. */
  def enc(v: Any, t: DataType): Any = if (v == null) null else t match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | StringType => v
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case DoubleType => double(v.asInstanceOf[Double])
    case _: DecimalType => Map("$dec" -> v.asInstanceOf[java.math.BigDecimal].toPlainString)
    case DateType => v match {
      case d: java.sql.Date => Map("$date" -> DateTimeUtils.fromJavaDate(d))
      case d: java.time.LocalDate => Map("$date" -> d.toEpochDay.toInt)
    }
    case TimestampType => v match {
      case ts: java.sql.Timestamp => Map("$ts" -> DateTimeUtils.fromJavaTimestamp(ts))
      case i: java.time.Instant => Map("$ts" -> DateTimeUtils.instantToMicros(i))
    }
    case TimestampNTZType =>
      Map("$ts" -> DateTimeUtils.localDateTimeToMicros(v.asInstanceOf[java.time.LocalDateTime]))
    case BinaryType =>
      Map("$bin" -> java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Array[Byte]]))
    case ArrayType(et, _) => v.asInstanceOf[scala.collection.Seq[Any]].map(enc(_, et))
    case st: StructType =>
      val r = v.asInstanceOf[Row]
      Map("$struct" -> st.fields.indices.map { i =>
        Seq(st.fields(i).name, enc(if (r.isNullAt(i)) null else r.get(i), st.fields(i).dataType))
      })
    case MapType(kt, vt, _) =>
      Map("$map" -> v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq.map {
        case (k, x) => Seq(enc(k, kt), enc(x, vt))
      })
    case _ => Map("$str" -> v.toString)
  }

  private def double(d: Double): Any =
    if (d.isNaN || d.isInfinite) Map("$f" -> d.toString) else d
}
