package graft.io

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** One-object-per-group sink — the reference's defining non-Spark-native
  * output behavior: each logical group (feature × region × qualifier value,
  * …) becomes ONE exactly-named object (reference group-apply save lambdas:
  * flows/common.py:324-378, 545-606, 610-675).
  *
  * `df.write.partitionBy` cannot produce exact single-file names, so the
  * sink repartitions by the group key (co-locating each group on one
  * executor), sorts within partitions (making each group a contiguous run,
  * and giving deterministic row order inside the rendered object), then
  * streams each run through a renderer inside `foreachPartition` — no
  * driver collect, no per-group job. Scale: the shuffle moves each row once;
  * a group must fit in one task's memory only if its renderer buffers (CSV
  * rendering streams row-by-row, so even that is bounded by the object
  * size actually produced).
  */
object GroupSink {

  /** Render each key-group to one object.
    *
    * @param df       input frame
    * @param keyCols  group identity (one object per distinct key tuple)
    * @param sortCols row order within each rendered object
    * @param render   (key row, rows of the group in order) => (path, body);
    *                 return null path to skip the group
    * @param writer   destination writer
    * @return number of objects written (collected via an accumulator)
    */
  def writeGroups(
      df: DataFrame,
      keyCols: Seq[String],
      sortCols: Seq[String],
      render: (Row, Iterator[Row]) => (String, Array[Byte]),
      writer: Writer
  ): Long = {
    val written = df.sparkSession.sparkContext.longAccumulator("groupsink.objects")
    val sorted = df
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols ++ sortCols).map(col): _*)
    val keyIdx = keyCols.map(c => sorted.schema.fieldIndex(c)).toArray

    sorted.foreachPartition { (rows: Iterator[Row]) =>
      // consecutive-run grouping: rows arrive sorted by key
      val stream = rows.buffered
      while (stream.hasNext) {
        val first = stream.head
        val keyVals = keyIdx.map(first.get)
        // index loop: the per-row boundary check allocates nothing
        def sameKey(r: Row): Boolean = {
          var i = 0
          while (i < keyIdx.length && r.get(keyIdx(i)) == keyVals(i)) i += 1
          i == keyIdx.length
        }
        val group = new Iterator[Row] {
          def hasNext: Boolean = stream.hasNext && sameKey(stream.head)
          def next(): Row = stream.next()
        }
        val (path, body) = render(first, group)
        // renderer may not have consumed the whole run — drain it
        while (group.hasNext) group.next()
        if (path != null) {
          writer.write(body, path)
          written.add(1L)
        }
      }
    }
    written.value
  }

  /** pandas-`to_csv`-compatible rendering: given header order and a row
    * iterator, produce the CSV body (no index column; nulls empty; doubles
    * via shortest-roundtrip `Double.toString`). */
  def renderCsv(header: Seq[String], fieldIdx: Seq[Int], rows: Iterator[Row]): Array[Byte] = {
    val sb = new StringBuilder
    // header cells escape like body cells: pivoted qualifier VALUES become
    // column names, so a data-derived "Washington, DC" header must quote
    sb.append(header.map(csvCell).mkString(",")).append('\n')
    rows.foreach { r =>
      var i = 0
      while (i < fieldIdx.length) {
        if (i > 0) sb.append(',')
        sb.append(csvCell(r.get(fieldIdx(i))))
        i += 1
      }
      sb.append('\n')
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  private def csvCell(v: Any): String = v match {
    case null => ""
    // pandas prints floats shortest-roundtrip ("64.0", "0.1");
    // Double.toString matches except exotic exponent formatting
    case d: Double => d.toString
    case s: String =>
      if (s.contains(",") || s.contains("\"") || s.contains("\n") || s.contains("\r"))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    case other => other.toString
  }
}
