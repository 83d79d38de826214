package graft.tools

/** Result-set canonicalization shared by the invariance gates ([[Audit]])
  * and the benchmark's answer check: rows formatted cell-by-cell and
  * sorted, map cells entry-sorted, doubles at 9 significant digits so
  * partial-aggregation reassociation noise below the house round()/scaled-
  * integer contract doesn't false-positive, then SHA-256 over the sorted
  * lines plus a schema header. Two query runs are "the same answer" iff
  * their digests match.
  */
object Canon {

  /** The canonical form must itself be independent of the JVM's default
    * locale and timezone, or `Audit mode`'s tz/locale axis measures the
    * formatter instead of the query (the f-interpolator's %e renders a
    * Turkish decimal comma; `java.sql.Timestamp.toString` renders the
    * instant in the default zone). Hence Locale.ROOT formatting and
    * Instant-based timestamp rendering throughout — `java.sql.Date` stays
    * on toString because Spark constructs it so that the default-TZ render
    * IS the intended calendar date in any default TZ. */
  private def fmt(pattern: String, v: Any): String =
    String.format(java.util.Locale.ROOT, pattern, v.asInstanceOf[Object])

  def cell(v: Any): String = v match {
    case null => "~null~"
    case d: java.lang.Double => fmt("%.9e", d)
    case f: java.lang.Float => fmt("%.6e", f)
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => fmt("%02x", x)).mkString("0x", "", "")
    case r: org.apache.spark.sql.Row =>
      r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => cell(k) + "->" + cell(x) }
        .toSeq.sorted.mkString("{", ",", "}")
    case a: scala.collection.Seq[_] => a.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  def digestOf(rows: Array[String], header: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(header.getBytes("UTF-8"))
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10.toByte) }
    md.digest().map(b => fmt("%02x", b)).mkString
  }

  /** Digest + row count of one DataFrame under the canonical form. */
  def digestDf(df: org.apache.spark.sql.DataFrame): (String, Int) = {
    val header = df.schema.fields
      .map(f => f.name + ":" + f.dataType.sql).mkString("|")
    val rows = df.collect().map(r => cell(r))
    java.util.Arrays.sort(rows, java.util.Comparator.naturalOrder[String]())
    (digestOf(rows, header), rows.length)
  }
}
