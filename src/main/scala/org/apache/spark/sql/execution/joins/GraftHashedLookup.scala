package org.apache.spark.sql.execution.joins

import org.apache.spark.sql.catalyst.InternalRow

/** Bridge to Spark's broadcast hash relation (`HashedRelation` is
  * private[execution] in Spark 4) so an out-of-tree physical operator can
  * probe the relation a `HashedRelationBroadcastMode` exchange built.
  */
object GraftHashedLookup {

  /** A per-task probe over the broadcast value: the rows whose keys equal
    * `key` (an UnsafeRow of the build keys' types), empty when none do.
    * The returned rows may be reused between calls.
    */
  def probe(broadcastValue: AnyRef): InternalRow => Iterator[InternalRow] = {
    val relation = broadcastValue.asInstanceOf[HashedRelation].asReadOnlyCopy()
    key => {
      val rows = relation.get(key)
      if (rows == null) Iterator.empty else rows
    }
  }
}
