package graft

import graft.sources.MetaFanout

/** Pins [[MetaFanout]]'s route for the duration of `body`: every
  * metadata fan-out runs distributed (`distribute = true`) or serial
  * on the driver (`false`), whatever the measurement would say. */
object FanoutPin {
  def apply[A](distribute: Boolean)(body: => A): A = {
    MetaFanout.testDistribute = Some(distribute)
    try body finally MetaFanout.testDistribute = None
  }
}
