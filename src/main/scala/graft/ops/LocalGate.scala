package graft.ops

import org.apache.spark.sql.Dataset

/** The one size gate between a driver-local algorithm and its distributed
  * counterpart: measure the relation by fetching it, up to one row past
  * the gate. The plan choice follows the measured size, not an estimate.
  */
object LocalGate {

  /** Every row of `ds` when it has at most `max` rows, else `None`. One
    * `limit(max + 1).collect()` both probes the size and fetches the data,
    * so the relation is evaluated once and nothing is persisted: a failure
    * during evaluation leaves no cached block behind. Above the gate the
    * caller recomputes `ds` on its distributed path. `max` must lie in
    * `[0, Int.MaxValue)`: the probe's `max + 1` row limit must fit an Int. */
  def collectAtMost[T](ds: Dataset[T], max: Int): Option[Array[T]] = {
    require(max >= 0 && max < Int.MaxValue,
      s"LocalGate.collectAtMost: gate 'max' must be in [0, ${Int.MaxValue}), " +
      s"got $max — the size probe fetches max + 1 rows")
    val rows = ds.limit(max + 1).collect()
    if (rows.length <= max) Some(rows) else None
  }
}
