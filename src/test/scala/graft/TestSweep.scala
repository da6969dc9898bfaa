package graft

/** Bounded-parallel full-inventory sweeps for the CI suites.
  *
  * Two suites walk every `SparkEntry.queries` builder on it
  * (determinism, plan lint); run sequentially, the three inventory
  * sweeps cost ~18 min and pushed `sbt test` past the 30-min CI budget.
  * Per-query work is independent and Spark's scheduler runs concurrent
  * driver threads' jobs side by side, so each sweep fans out over a
  * fixed pool. Coverage is unchanged — every query still runs; only the
  * wall-clock shrinks. Callers give each item its own
  * `spark.newSession()`: builders register fixed temp-view names, and
  * items run concurrently. OpsSpec's runs-at-sf0.001 sweep runs one key
  * at a time, because it checks that each key's Materialize scope
  * releases everything, and concurrent keys share cached relations.
  */
object TestSweep {

  /** Threads per sweep: enough to hide per-query driver latency on the
    * local[4] test session without starving concurrent stages.
    */
  val Threads = 8

  /** Run `check` over every item on a bounded pool; collect the failure
    * messages (None = pass) in input order. Throwables become failures
    * rather than aborting the sweep, so one bad query reports alongside
    * the rest.
    */
  def sweep[A](items: Seq[A])(check: A => Option[String]): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    try {
      val futs = items.map { it =>
        pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] =
            try check(it)
            catch {
              case e: Throwable =>
                Some(s"sweep item threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
        })
      }
      futs.flatMap(_.get())
    } finally pool.shutdown()
  }

  /** Like [[sweep]] but collects every item's result (the plan-lint
    * sweep wants the per-query finding map, not only failures). `f`
    * must convert its own throwables into a result value.
    */
  def sweepResults[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Threads)
    try {
      val futs = items.map { it =>
        pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(it) })
      }
      futs.map(_.get())
    } finally pool.shutdown()
  }
}
