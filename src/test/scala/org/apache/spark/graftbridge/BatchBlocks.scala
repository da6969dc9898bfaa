package org.apache.spark.graftbridge

import scala.util.Try

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.storage.BroadcastBlockId

/** The row batches the driver's block store still holds: broadcasts
  * whose value is a `RowBatch`'s rows. Query broadcasts (task binaries,
  * join build sides) hold other values and are not counted.
  */
object BatchBlocks {
  def live(): Set[Long] = {
    val blocks = SparkEnv.get.blockManager
    blocks.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect {
      case b @ BroadcastBlockId(id, _)
          if Try(blocks.memoryStore.getValues(b).exists(_.exists(_.isInstanceOf[Array[UnsafeRow]]))).getOrElse(false) =>
        id
    }.toSet
  }
}
