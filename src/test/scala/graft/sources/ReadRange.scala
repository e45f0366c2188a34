package graft.sources

import org.apache.spark.sql.catalyst.InternalRow

/** Drains one [[LogRange]] through the source's own partition reader. */
object ReadRange {
  def rows(framing: Framing, range: LogRange, withFile: Boolean = false): Vector[InternalRow] = {
    val r = LogReaderFactory(framing, withFile).createReader(range)
    try {
      val out = Vector.newBuilder[InternalRow]
      while (r.next()) out += r.get().copy()
      out.result()
    } finally r.close()
  }

  def lines(range: LogRange): Vector[(String, Long)] =
    rows(Framing.Lines, range).map(r => (r.getUTF8String(0).toString, r.getLong(1)))
}
