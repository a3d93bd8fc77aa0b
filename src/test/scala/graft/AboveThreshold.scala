package graft

import graft.streaming.SignedCells

/** Runs a block with every store log planned above the one-partition
  * read threshold of [[streaming.SignedCells.readLog]]: the block sees
  * [[streaming.SignedCells.onePartitionMaxBytes]] lowered below any
  * planned size, and the threshold is restored after it. */
object AboveThreshold {

  def apply[T](body: => T): T = {
    val saved = SignedCells.onePartitionMaxBytes
    SignedCells.onePartitionMaxBytes = -1L
    try body
    finally SignedCells.onePartitionMaxBytes = saved
  }
}
