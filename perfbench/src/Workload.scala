package graft.perfbench

/** One benchmark workload: a set-up, then a closed loop of ops, each with
  * an untimed preparation, a timed body and an untimed correctness check.
  */
trait Workload {
  type Result

  /** Input sizes the run reports (objects, bytes, rows, digests). */
  def inputs: java.util.Map[String, Any]

  /** Writes the seeded inputs. */
  def generate(): Unit

  /** Generation, priming and warm-up; it ends where the first op starts. */
  def setup(): Unit

  /** Untimed work before op `i`, such as a reset or a churn batch. */
  def prepare(i: Int): Unit

  /** The timed op. With a tracer it records a span per layer call. */
  def run(i: Int, tracer: Option[Tracer]): Result

  /** Untimed check of op `i`; returns one message per failed check. */
  def check(i: Int, result: Result): Seq[String]

  /** Extra per-op figures for the traced output (stream progress etc.). */
  def opDetail(i: Int, tracer: Option[Tracer]): java.util.Map[String, Any] =
    Json.obj()
}
