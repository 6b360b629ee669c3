package perfbench

/** The machine's speed during a run: a fixed integer loop that involves
  * neither Spark nor graft and allocates nothing, timed just before and
  * just after the timed phase. On a shared host a run's latencies follow
  * the host's speed (on a shared 4-core VM, a run whose loop was 9%
  * slower served its searches and its curation 15-25% slower), so the
  * gated latency is scaled to a reference speed:
  * `op_p50_ref_ms = op_p50_ms * ReferenceMs / (median loop ms)`.
  */
object Calibration {
  /** The loop's typical time on a 4-core VM of the reference host. */
  val ReferenceMs = 15.0

  private var sink = 0L

  /** One loop: 4 M xorshift-multiply steps; its wall time in ms. */
  def unitMs(): Double = {
    val t0 = System.nanoTime()
    var x = sink | 1L; var i = 0
    while (i < 4000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x *= 0x2545F4914F6CDD1DL; i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }

  def run(n: Int): Seq[Double] = Seq.fill(n)(unitMs())
}
