package graft.operators

import java.lang.ref.SoftReference

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType

/** Driver pins keyed by the files they were read from. A pin read from a
  * file relation is current while that relation lists the same files: a
  * rewritten or appended directory, read back, lists new files (new
  * paths, lengths or modification times), so its key is new and nothing
  * has to invalidate the old pin. An old DataFrame keeps its old
  * listing, as any Spark read does.
  *
  * Used by [[IndexSearch]]'s tree and `points` pins, and by
  * `VectorIndexCatalog`, whose entries hold only while the queried
  * table lists the files it listed when it was registered. */
private[graft] object Snapshots {

  /** A listed file: its path, length and modification time. */
  type Listing = Seq[(String, Long, Long)]

  /** The files a bare file scan reads: its relation's schema and its
    * sorted listing. */
  final case class Snapshot(schema: StructType, files: Listing) {
    def bytes: Long = files.map(_._2).sum
  }

  /** Every file `location` lists, sorted. */
  def files(location: FileIndex): Listing =
    location.listFiles(Nil, Nil).flatMap(_.files)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted

  /** The snapshot of `df` when its plan is column selections over one
    * file relation; None otherwise. */
  def of(df: DataFrame): Option[Snapshot] = {
    def scan(plan: LogicalPlan): Option[HadoopFsRelation] = plan match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) =>
        scan(child)
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      case _ => None
    }
    scan(df.queryExecution.analyzed).map(h => Snapshot(h.schema, files(h.location)))
  }

  /** The pins kept per snapshot key, softly held: a few slots under a
    * byte budget of an eighth of the driver heap, the least recently
    * used evicted first. */
  private final class Slot(val pin: SoftReference[AnyRef], val bytes: Long)
  private val MaxSlots = 8
  private val slots = new java.util.LinkedHashMap[AnyRef, Slot](16, 0.75f, true)

  def get(key: AnyRef): Option[AnyRef] = synchronized {
    Option(slots.get(key)).flatMap { slot =>
      val pin = Option(slot.pin.get)
      if (pin.isEmpty) slots.remove(key)
      pin
    }
  }

  def put(key: AnyRef, pin: AnyRef, bytes: Long): Unit = synchronized {
    slots.put(key, new Slot(new SoftReference(pin), bytes))
    var total = 0L
    slots.values.forEach(s => total += s.bytes)
    val lru = slots.entrySet.iterator
    while ((slots.size > MaxSlots || total > Runtime.getRuntime.maxMemory / 8) && lru.hasNext) {
      val e = lru.next()
      if (e.getKey != key) { total -= e.getValue.bytes; lru.remove() }
    }
  }
}
