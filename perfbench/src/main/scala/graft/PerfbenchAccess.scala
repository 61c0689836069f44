package graft

/** The one package-private call the benchmark makes: dropping the
  * previous query's cache slots between suite queries, as `Bench` and
  * `Verify` do. */
object PerfbenchAccess {
  def releaseSlots(): Unit = operators.Dedup.releaseSlots()
}
