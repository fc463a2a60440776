package cdcbench

import scala.collection.mutable

/** One generated change: its global sequence number, op and key. The
  * sequence number orders every change (it is the envelope's `ts_ms`
  * offset and its `source.lsn`), and it is the row version that derives
  * the row's column values. */
final case class Change(seq: Long, op: Char, id: Long)

/** The replicated row's column values, derived from (id, version) alone so
  * the model can store only the version. Shape: `Envelope.rowSchema`
  * (id, name, nationkey, acctbal, mktsegment). */
final case class Row(id: Long, name: String, nationkey: Int, acctbal: Double,
    mktsegment: String)

object Row {
  private val firstNames = Vector("ivan", "anna", "pyotr", "maria", "olga",
    "dmitri", "elena", "sergei", "nina", "viktor")
  private val lastNames = Vector("ivanov", "petrova", "sidorov", "kuznetsova",
    "smirnov", "popova", "volkov", "orlova", "fyodorov", "morozova")
  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")

  def of(id: Long, version: Long): Row = {
    val h = id * 7919L + version * 104729L
    Row(id,
      firstNames(((id + version) % 10).toInt) + " " +
        lastNames(((id * 3 + version) % 10).toInt),
      ((id * 7 + version) % 25).toInt,
      // whole cents in [-1000.00, 9999.99]: Double.toString prints them in
      // plain notation and JSON parsing returns the identical double
      ((h % 1100000L) - 100000L) / 100.0,
      segments(((id + version) % 5).toInt))
  }

  def json(r: Row): String =
    s"""{"id":${r.id},"name":"${r.name}","nationkey":${r.nationkey},""" +
      s""""acctbal":${r.acctbal},"mktsegment":"${r.mktsegment}"}"""
}

/** Debezium envelope rendering: the `{schema, payload}` pair the reference's
  * topic carries, with the `schema` block Debezium's JSON converter emits
  * for this table and a Postgres connector's `source` fields. */
object DebeziumJson {
  val TsBase = 1700000000000L

  private def field(t: String, name: String, optional: Boolean): String =
    s"""{"type":"$t","optional":$optional,"field":"$name"}"""

  private val rowFields = Seq(field("int64", "id", optional = false),
    field("string", "name", optional = true),
    field("int32", "nationkey", optional = true),
    field("double", "acctbal", optional = true),
    field("string", "mktsegment", optional = true)).mkString(",")

  private def rowStruct(f: String) =
    s"""{"type":"struct","fields":[$rowFields],"optional":true,""" +
      s""""name":"dbserver1.inventory.customers.Value","field":"$f"}"""

  private val sourceStruct =
    """{"type":"struct","fields":[""" + Seq(
      field("string", "version", optional = false),
      field("string", "connector", optional = false),
      field("string", "name", optional = false),
      field("int64", "ts_ms", optional = false),
      """{"type":"string","optional":true,"name":"io.debezium.data.Enum",""" +
        """"version":1,"parameters":{"allowed":"true,last,false,incremental"},""" +
        """"default":"false","field":"snapshot"}""",
      field("string", "db", optional = false),
      field("string", "sequence", optional = true),
      field("string", "schema", optional = false),
      field("string", "table", optional = false),
      field("int64", "txId", optional = true),
      field("int64", "lsn", optional = true),
      field("int64", "xmin", optional = true)).mkString(",") +
      """],"optional":false,"name":"io.debezium.connector.postgresql.Source",""" +
      """"field":"source"}"""

  private val transactionStruct =
    """{"type":"struct","fields":[""" + Seq(
      field("string", "id", optional = false),
      field("int64", "total_order", optional = false),
      field("int64", "data_collection_order", optional = false)).mkString(",") +
      """],"optional":true,"name":"event.block","version":1,"field":"transaction"}"""

  /** The converter's schema block, identical on every message of the topic. */
  val schemaBlock: String =
    """{"type":"struct","fields":[""" + Seq(rowStruct("before"),
      rowStruct("after"), sourceStruct, field("string", "op", optional = false),
      field("int64", "ts_ms", optional = true), transactionStruct).mkString(",") +
      """],"optional":false,"name":"dbserver1.inventory.customers.Envelope",""" +
      """"version":1}"""

  /** The envelope line for change `c`; `prevVersion` is the key's previous
    * image version (the `before` image of an update or delete). */
  def render(c: Change, prevVersion: Long, snapshotLast: Boolean): String = {
    val ts = TsBase + c.seq
    val before =
      if (c.op == 'u' || c.op == 'd') Row.json(Row.of(c.id, prevVersion))
      else "null"
    val after = if (c.op == 'd') "null" else Row.json(Row.of(c.id, c.seq))
    val snapshot =
      if (c.op != 'r') "false" else if (snapshotLast) "last" else "true"
    val lsn = 100000000L + c.seq * 64L
    s"""{"schema":$schemaBlock,"payload":{"before":$before,"after":$after,""" +
      s""""source":{"version":"2.7.3.Final","connector":"postgresql",""" +
      s""""name":"dbserver1","ts_ms":$ts,"snapshot":"$snapshot",""" +
      s""""db":"postgres","sequence":"[null,\\"$lsn\\"]","schema":"inventory",""" +
      s""""table":"customers","txId":${1000 + c.seq},"lsn":$lsn,"xmin":null},""" +
      s""""op":"${c.op}","ts_ms":$ts,"transaction":null}}"""
  }
}

/** One expected history version of a key (SCD2: `valid_to` is the next
  * change's `ts_ms`, null while current). */
final case class Version(row: Row, validFrom: Long, validTo: Option[Long])

/** The workload generator and its model, re-implementing the reference's
  * grammar: ops uniform over {c, u, d}; updates and deletes pick a
  * uniformly random live key; a delete never follows a delete (it turns
  * into an insert); with no live key every op is an insert.
  *
  * The table starts with `initialKeys` snapshot (`op='r'`) rows, ids
  * 1..initialKeys. Every change is folded into the model as it is made, so
  * the model always holds the expected replica and history. Deterministic:
  * the same seed gives the same changes. */
final class Gen(seed: Long, val initialKeys: Int) {
  private val rnd = new java.util.Random(seed)
  // live keys: a dense array plus each key's slot, for O(1) uniform pick
  // and removal
  private var live = new Array[Long](math.max(16, initialKeys * 2))
  private var nLive = 0
  private val slot = new mutable.HashMap[Long, Int]()
  /** id -> the versions (change seqs) of its images, and its delete seq. */
  private val images = new mutable.HashMap[Long, mutable.ArrayBuffer[Long]]()
  private val deletedAt = new mutable.HashMap[Long, Long]()
  private var nextSeq = 0L
  private var nextId = 1L
  private var prevDelete = false

  private def addLive(id: Long): Unit = {
    if (nLive == live.length) live = java.util.Arrays.copyOf(live, nLive * 2)
    live(nLive) = id; slot(id) = nLive; nLive += 1
  }
  private def removeLive(id: Long): Unit = {
    val i = slot.remove(id).get
    nLive -= 1
    if (i != nLive) { live(i) = live(nLive); slot(live(i)) = i }
  }

  /** The initial snapshot rows, as `op='r'` changes. */
  def snapshot(): IndexedSeq[Change] =
    (0 until initialKeys).map(_ => emit('r', newId()))

  private def newId(): Long = { val id = nextId; nextId += 1; id }

  private def emit(op: Char, id: Long): Change = {
    val c = Change(nextSeq, op, id)
    nextSeq += 1
    op match {
      case 'd' => removeLive(id); deletedAt(id) = c.seq
      case 'r' | 'c' =>
        addLive(id); images.getOrElseUpdate(id, mutable.ArrayBuffer()) += c.seq
      case _ => images(id) += c.seq
    }
    c
  }

  /** The next change of the grammar. */
  def next(): Change = {
    var choice = rnd.nextInt(3) // 0 = c, 1 = u, 2 = d
    if (choice == 2 && prevDelete) choice = 0
    if (choice != 0 && nLive == 0) choice = 0
    prevDelete = choice == 2
    choice match {
      case 0 => emit('c', newId())
      case 1 => emit('u', live(rnd.nextInt(nLive)))
      case _ => emit('d', live(rnd.nextInt(nLive)))
    }
  }

  /** The version of `id`'s image just before change `c` (for `before`). */
  def previousVersion(c: Change): Long = {
    val vs = images(c.id)
    // an update's own image is already appended; a delete appends none
    if (c.op == 'u') vs(vs.length - 2) else vs.last
  }

  /** The version of `c`'s `before` image (-1 for an insert); it must be
    * taken right after `c` is made, before later changes to its key. */
  def beforeVersion(c: Change): Long =
    if (c.op == 'u' || c.op == 'd') previousVersion(c) else -1L

  def render(c: Change): String = render(c, beforeVersion(c))

  /** Reads no model state, so any thread may call it. */
  def render(c: Change, before: Long): String =
    DebeziumJson.render(c, before, snapshotLast = c.op == 'r' && c.seq == initialKeys - 1)

  /** Largest id ever inserted. */
  def maxId: Long = nextId - 1
  def liveCount: Int = nLive

  /** Expected replica row of `id`; None once deleted or never inserted. */
  def expectedRow(id: Long): Option[Row] =
    if (deletedAt.contains(id)) None
    else images.get(id).map(vs => Row.of(id, vs.last))

  /** Expected SCD2 history of `id`, oldest version first. */
  def expectedHistory(id: Long): Seq[Version] =
    images.get(id).map { vs =>
      vs.indices.map { i =>
        val next =
          if (i + 1 < vs.length) Some(vs(i + 1))
          else deletedAt.get(id)
        Version(Row.of(id, vs(i)), DebeziumJson.TsBase + vs(i),
          next.map(DebeziumJson.TsBase + _))
      }
    }.getOrElse(Seq.empty)

  def liveIds: Iterator[Long] = slot.keysIterator
  def everInserted: Iterator[Long] = images.keysIterator
}
