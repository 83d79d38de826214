package graft.tools

import org.apache.spark.sql.functions._
import graft.game.{GameEvent, GameFold}

/** Dev-only scale smoke: fold an N-million-event log generated by the DSV2
  * source through both fold paths and report throughput. Verifies the
  * design claim that the fold is bounded by per-room state, not event
  * volume, and that the presorted path removes the one shuffle.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val rooms = args.headOption.map(_.toInt).getOrElse(64)
    val perRoom = args.lift(1).map(_.toLong).getOrElse(160000L) // ~10M total
    val spark = graft.Session.local()
    import spark.implicits._

    val events = spark.read.format("graft.sources.GameEventsProvider")
      .option("rooms", rooms).option("eventsPerRoom", perRoom)
      .option("seed", 7).load()
      .withColumn("list", array().cast("array<int>"))
      .as[GameEvent]
    val total = rooms * perRoom

    def run(label: String)(f: => Array[graft.game.RoomSummary]): Unit = {
      val t0 = System.nanoTime()
      val out = f
      val secs = (System.nanoTime() - t0) / 1e9
      val ok = out.length == rooms && out.forall(_.n_events == perRoom)
      println(f"SCALE $label%-12s rooms=$rooms total=$total ${secs}%7.2f s " +
        f"${total / secs / 1e6}%6.2f M events/s correct=$ok")
    }

    run("presorted")(GameFold.summarizePresorted(events).collect())
    run("shuffled")(GameFold.summarize(events).collect())
    spark.stop()
  }
}
