package perfbench

/** A closed-loop workload driven by one client. */
trait Workload {
  /** Prepare the system; each timed unit lands in `Harness.setupS`. */
  def setup(): Unit
  /** Run one block of operations with a fixed mix. */
  def block(): Unit
  /** Checks deferred until the measured window has ended. */
  def finish(): Unit
}
