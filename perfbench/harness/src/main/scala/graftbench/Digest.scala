package graftbench

import org.apache.spark.sql.DataFrame

/** The result digest of `graft.DeterminismCheck`: SHA-256 over the schema
  * string and the sorted row strings (a multiset of rows, so row order does
  * not matter), first 12 bytes in hex. */
object Digest {
  def apply(df: DataFrame): String = {
    val schema = df.schema.map(f => s"${f.name}:${f.dataType.sql}").mkString(",")
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.getBytes("UTF-8"))
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
