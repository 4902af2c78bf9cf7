package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The checking action of an op: row count plus an overflow-safe sum of
  * `xxhash64` over every output column. Every column feeds the hash, so
  * Catalyst cannot prune any output expression away — the action computes
  * the op's whole output.
  */
object Check {
  final case class Digest(rows: Long, hash: BigDecimal) {
    override def toString: String = s"$rows\t$hash"
  }

  def digest(df: DataFrame): Digest = {
    val n = df.schema.size
    val named = df.toDF((0 until n).map(i => s"c$i"): _*)
    // map entries come in no fixed order; hash them sorted
    val cols = df.schema.fields.toSeq.zipWithIndex.map {
      case (f, i) if f.dataType.isInstanceOf[MapType] => array_sort(map_entries(col(s"c$i")))
      case (_, i) => col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast("decimal(20,0)"))).collect().head
    Digest(r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  /** Pinned digests, one `name<TAB>rows<TAB>hash` line per op. */
  def load(path: java.io.File): Map[String, Digest] =
    if (!path.exists()) Map.empty
    else scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val Array(k, rows, hash) = l.split('\t')
      k -> Digest(rows.toLong, BigDecimal(hash))
    }.toMap

  def save(path: java.io.File, ds: Map[String, Digest]): Unit =
    java.nio.file.Files.write(path.toPath,
      ds.toSeq.sortBy(_._1).map { case (k, d) => s"$k\t$d\n" }.mkString.getBytes("UTF-8"))
}
