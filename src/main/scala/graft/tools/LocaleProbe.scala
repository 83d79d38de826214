package graft.tools

import java.util.{Locale, TimeZone}

import org.apache.spark.sql.functions._

/** Scratch probe: which Spark string functions read the JVM default
  * locale? Runs lower/upper/initcap over case-mapping pivots (ASCII I,
  * dotted İ, dotless ı, sharp ß) under the root locale and under tr-TR,
  * printing any value that changed. Diagnosis aid for the `Audit mode`
  * tz/locale axis — not a gate.
  */
object LocaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(workers = 2, logLevel = "ERROR")
    import spark.implicits._

    val pivots = Seq("TITLE", "I", "İstanbul", "straße I",
      "ı I mixed", "cafÉ DIİ")
    def snap(): Seq[(String, String, String, String)] = {
      val df = pivots.toDF("s").select(
        col("s"), lower(col("s")).as("lo"), upper(col("s")).as("up"),
        lower(collate(col("s"), "UNICODE")).as("icu"))
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getString(3))).toSeq
    }
    val before = snap()
    val (tz0, loc0) = (TimeZone.getDefault, Locale.getDefault)
    try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      TimeZone.setDefault(TimeZone.getTimeZone("Asia/Kolkata"))
      val after = snap()
      before.zip(after).foreach { case (b, a) =>
        if (b != a) println(s"[probe] CHANGED under tr-TR:\n  root: $b\n  tr  : $a")
        else println(s"[probe] stable: $b")
      }
    } finally { Locale.setDefault(loc0); TimeZone.setDefault(tz0) }
    spark.stop()
  }
}
