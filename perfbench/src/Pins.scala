package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive output digest: the row count plus the sum of
  * `xxhash64` over all columns. `hashSum` is None for keys pinned by row
  * count only (the keys without a DuckDB oracle, see ORACLES.md). */
final case class Digest(rows: Long, hashSum: Option[BigDecimal]) {
  def matches(pin: Digest): Boolean =
    rows == pin.rows && (pin.hashSum.isEmpty || hashSum == pin.hashSum)
  override def toString: String = s"rows=$rows hash=${hashSum.getOrElse("-")}"
}

object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One aggregate job over the fully projected output. Columns are
    * renamed by position first so duplicate or dotted names hash like any
    * other; map-typed columns go through `to_json` because `xxhash64`
    * rejects maps. */
  def of(df: DataFrame, rowsOnly: Boolean): Digest = {
    val fields = df.schema.fields.toSeq
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      if (hasMap(f.dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    val hs = if (rowsOnly) None
      else Some(if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    Digest(r.getLong(0), hs)
  }
}

/** The pinned digests, one `key<TAB>rows<TAB>hashsum` line per key
  * (`-` for a rows-only pin). */
object Pins {
  def load(path: Path): Map[String, Digest] =
    Files.readAllLines(path, UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        l.split("\t") match {
          case Array(k, rows, hs) =>
            k -> Digest(rows.toLong, if (hs == "-") None else Some(BigDecimal(hs)))
          case _ => throw new IllegalArgumentException(s"malformed pin line: $l")
        }
      }.toMap

  def write(path: Path, pins: Seq[(String, Digest)]): Unit = {
    val body = pins.sortBy(_._1).map { case (k, d) =>
      s"$k\t${d.rows}\t${d.hashSum.map(_.toString).getOrElse("-")}"
    }
    Files.write(path, ("# key\trows\txxhash64 sum (- = rows-only pin)" +: body)
      .mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
