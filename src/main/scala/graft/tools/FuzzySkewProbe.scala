package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only (r20, VERDICT item 3): measure the deletion-key bucket
  * distribution of the fuzzy_name_pairs join at a given sf dir — the
  * skew adjudication the judge asked for. The join key is the name's
  * deletion neighborhood; the scaladoc claims a key's bucket is bounded
  * by the alphabet at the deleted position (no hot key BY CONSTRUCTION).
  * This prints the occupancy histogram tail so that claim is a measured
  * number instead of an argument: if max occupancy stays O(alphabet) at
  * 10× the names, the sf1 wall ratio is volume, not a straggler.
  *
  *   sbt "runMain graft.tools.FuzzySkewProbe <sfDir> [<sfDir2> ...]"
  */
object FuzzySkewProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(logLevel = "ERROR")
    args.foreach { dir =>
      val names = graft.Tables.customer(spark, dir)
        .select(col("c_name").as("name")).distinct()
      val keys = names.select(posexplode(expr(
        """concat(array(name),
          |  transform(sequence(1, length(name)),
          |    i -> concat(substring(name, 1, i - 1),
          |                substring(name, i + 1, length(name)))))"""
          .stripMargin)).as(Seq("pos", "key")))
      val occ = keys.groupBy("key").agg(count(lit(1)).as("n"))
      val stats = occ.agg(count(lit(1)).as("n_keys"), max("n").as("max_occ"),
        expr("percentile_approx(n, 0.5)").as("p50"),
        expr("percentile_approx(n, 0.999)").as("p999")).head()
      val pairsUpper = occ.agg(sum(expr("n * (n - 1) div 2"))).head().getLong(0)
      println(s"[fuzzyskew] $dir: keys=${stats.getLong(0)} " +
        s"max_occ=${stats.getLong(1)} p50=${stats.get(2)} p999=${stats.get(3)} " +
        s"candidate_pairs_upper=$pairsUpper")
    }
    spark.stop()
  }
}
