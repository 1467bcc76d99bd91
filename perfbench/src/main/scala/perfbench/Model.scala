package perfbench

import scala.collection.mutable

/** Driver-side models the workloads' outputs are compared with. None of
  * them calls the program: they restate the expected result from the
  * inputs in plain Scala. */
object Model {

  /** The reference's 29-column transaction order (MonarchMoneyMain-v3.py
    * :145-162 with accountDisplayName/accountId dropped). */
  val TransactionColumns: Seq[String] = Seq(
    "__typename", "AccID", "AccDispName", "AccType", "amount", "attachments",
    "CatID", "CatDispName", "CatType", "date", "hideFromReports", "id", "isRecurring",
    "isSplitTransaction", "MrchntID", "MrchntDispName", "MrchntTranCount", "MrchntType",
    "needsReview", "notes", "pending", "plaidName", "reviewStatus", "tags", "TagsCSL",
    "createdAt", "updatedAt", "loadedAtUtc")

  /** The reference's leading account columns (v3:97). */
  val AccountPriority: Seq[String] = Seq(
    "id", "TypeDisplay", "AccountType", "displayName", "InstitutionName",
    "currentBalance", "displayBalance")

  /** Expected lakehouse table content, one state per committed version. */
  final class TableModel {
    private val rows = mutable.LongMap.empty[Long]
    private val states = mutable.LongMap.empty[(Long, Long, Long)]

    def upsert(kvs: Iterable[(Long, Long)]): Unit = kvs.foreach { case (k, v) => rows(k) = v }
    def delete(keys: Iterable[Long]): Unit = keys.foreach(rows.remove)
    def liveKeys: Array[Long] = rows.keys.toArray.sorted

    /** (rows, sum of cents, sum of keys) of the current content. */
    def digest: (Long, Long, Long) = (rows.size.toLong, rows.valuesIterator.sum, rows.keysIterator.sum)

    def publish(version: Long): Unit = synchronized { states(version) = digest }
    def at(version: Long): Option[(Long, Long, Long)] = synchronized(states.get(version))
  }

  /** Each model must reject a corrupted output; returns the names of the
    * self-tests that failed. */
  def selfTest(): Seq[String] = {
    val failures = mutable.ArrayBuffer.empty[String]
    def expect(name: String)(ok: Boolean): Unit = if (!ok) failures += name

    // column contract: a swapped pair of columns is rejected
    val cols = TransactionColumns.filterNot(Set("attachments", "plaidName"))
    def ordered(c: Seq[String]) = c == TransactionColumns.filter(c.toSet)
    expect("contract accepts order")(ordered(cols))
    expect("contract rejects swap")(!ordered(cols.updated(1, cols(2)).updated(2, cols(1))))

    // table model: a version's digest changes with a lost delete or a
    // stale update
    val m = new TableModel
    m.upsert(Seq(1L -> 10L, 2L -> 20L, 3L -> 30L)); m.publish(1)
    m.delete(Seq(2L)); m.upsert(Seq(3L -> 33L)); m.publish(2)
    expect("table model v1")(m.at(1).contains((3L, 60L, 6L)))
    expect("table model v2")(m.at(2).contains((2L, 43L, 4L)))
    expect("table model rejects a lost delete")(!m.at(2).contains((3L, 63L, 6L)))
    expect("table model rejects a stale update")(!m.at(2).contains((2L, 40L, 4L)))
    failures.toList
  }
}
