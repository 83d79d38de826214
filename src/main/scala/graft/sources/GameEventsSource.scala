package graft.sources

import java.util
import scala.collection.JavaConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 table generating a deterministic multi-room game-event log
  * — the engine-native stand-in for the reference's per-room topics plus its
  * random event generator (ST4, game.go:332-357), with the broker's ordering
  * contract built in: one input partition PER ROOM, rows emitted in seq
  * order within the partition (pulsar.go:90-92,133-138).
  *
  *   spark.read.format("graft.sources.GameEventsProvider")
  *     .option("rooms", 8).option("eventsPerRoom", 1000).option("seed", 42)
  *     .load()
  *
  * Generation is a per-room LCG, so any (rooms, eventsPerRoom, seed) triple
  * is reproducible on every executor independently — no driver-side data
  * movement, arbitrarily large logs, and the room-partitioned layout means
  * a per-room fold needs no further shuffle at the source boundary.
  */
class GameEventsProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GameEventsSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GameEventsTable(new CaseInsensitiveStringMap(properties))
}

object GameEventsSource {
  val Schema: StructType = StructType(Seq(
    StructField("room", StringType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("bomb_name", StringType, nullable = false),
    StructField("comment", StringType, nullable = false),
    StructField("x", IntegerType, nullable = false),
    StructField("y", IntegerType, nullable = false),
    StructField("alive", BooleanType, nullable = false)))

  val EventTypes: Array[String] = Array(
    "UserJoinEvent", "UserMoveEvent", "SetBombEvent", "ExplodeEvent",
    "UndoExplodeEvent", "BombMoveEvent", "UserDeadEvent", "UserReviveEvent",
    "UpdateMapEvent")
}

class GameEventsTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val rooms = options.getInt("rooms", 4)
  private val eventsPerRoom = options.getLong("eventsPerRoom", 1000L)
  private val seed = options.getLong("seed", 42L)

  override def name(): String = s"graft_events(rooms=$rooms, n=$eventsPerRoom)"
  override def schema(): StructType = GameEventsSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  // the retry-fault flag (`graft.tools.Audit retry`) arrives as a READ
  // OPTION set by the caller from ITS session conf — never from
  // SparkSession.active, which is thread-local and would read the wrong
  // session's conf when two sessions coexist in one JVM (the audit's own
  // reference-vs-faulted pattern)
  private val faultInject = options.getBoolean("retryFault", false)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    () => new GameEventsScan(rooms, eventsPerRoom, seed, faultInject)
}

final case class RoomPartition(room: Int, n: Long, seed: Long)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(UTF8String.fromString(s"room$room"))
}

class GameEventsScan(rooms: Int, eventsPerRoom: Long, seed: Long,
                     faultInject: Boolean = false)
    extends Scan with Batch with SupportsReportPartitioning {
  override def readSchema(): StructType = GameEventsSource.Schema
  override def toBatch: Batch = this
  override def description(): String = "graft deterministic game-event log"

  /** Advertise key-grouped layout on `room`: with
    * spark.sql.sources.v2.bucketing.enabled=true, per-room aggregation and
    * the fold need NO shuffle — the broker's room-topic co-location carried
    * through to the physical plan.
    */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
      Array(org.apache.spark.sql.connector.expressions.Expressions.identity("room")),
      rooms)

  override def planInputPartitions(): Array[InputPartition] =
    (0 until rooms).map(r =>
      RoomPartition(r, eventsPerRoom, seed): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory = {
    val fault = faultInject // plain Boolean into the serialized lambda
    (p: InputPartition) => {
      val tc = org.apache.spark.TaskContext.get()
      if (fault && tc != null && tc.attemptNumber() == 0)
        throw new RuntimeException(
          s"graft-injected retry fault (dsv2 partition=${tc.partitionId()} attempt=0)")
      val rp = p.asInstanceOf[RoomPartition]
      new GameEventsReader(rp.room, rp.n, rp.seed)
    }
  }
}

/** Per-room deterministic generator: LCG (numerical-recipes constants)
  * seeded by (seed, room); emits rows in strictly increasing seq order.
  */
class GameEventsReader(room: Int, n: Long, seed: Long)
    extends PartitionReader[InternalRow] {

  private var state: Long = seed * 6364136223846793005L + room * 1442695040888963407L
  private var i: Long = -1L
  private var current: InternalRow = _

  private def nextRand(): Long = {
    state = state * 6364136223846793005L + 1442695040888963407L
    state >>> 16
  }

  // row is built in next(): the PartitionReader contract allows repeated
  // get() calls per advance, and the LCG must step exactly once per row
  override def next(): Boolean = {
    i += 1
    if (i >= n) return false
    val r = nextRand()
    val tpe =
      if (i < 3) "UserJoinEvent" // every room starts with joins
      else GameEventsSource.EventTypes((r % 9).toInt)
    val player = (r / 9) % 6
    val cell = (r / 64) % 750
    val bombId = (r / 13) % 24
    current = InternalRow(
      UTF8String.fromString(s"room$room"),
      i,
      UTF8String.fromString(tpe),
      UTF8String.fromString(s"p$player"),
      UTF8String.fromString(s"p${bombId % 6}-b${bombId / 6}"),
      UTF8String.fromString(s"p${(player + 1) % 6}"),
      (cell % 30).toInt,
      (cell / 30).toInt,
      true)
    true
  }

  override def get(): InternalRow = current

  override def close(): Unit = ()
}
