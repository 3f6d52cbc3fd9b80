package perfbench

import java.nio.{ByteBuffer, ByteOrder}

/** How fast the host runs this process right now.
  *
  * The benchmark runs on a few cores of a shared host whose speed for
  * one thread drifts by up to 1.7 times within minutes, with no steal
  * time showing: other tenants share the cores' caches and clocks.
  * [[sample]] times a fixed single-threaded loop that does the kind of
  * work a scan does (decode little-endian floats, filter, sum, hash);
  * the benchmark runs it between operations and scales the operations
  * of each round by [[refNs]] ÷ the mean loop time over that round.
  * That removes the host's drift and keeps the program's own changes,
  * which the loop does not run. */
object HostSpeed {

  /** The loop's time on a quiet 4-vCPU Xeon KVM guest. Scaled times
    * read as the time the operation takes on that machine when quiet. */
  val refNs: Long = 9000000L

  private val n = 1 << 20
  private val bytes = { val b = new Array[Byte](4 * n); new scala.util.Random(1).nextBytes(b); b }
  private val floats = new Array[Float](n)
  @volatile private var sink = 0.0

  /** Time of one pass of the loop, in ns. */
  def sample(): Long = {
    val t0 = System.nanoTime()
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var k = 0
    while (k < n) { floats(k) = bb.getFloat(4 * k); k += 1 }
    var (s, h) = (0.0, 0L)
    k = 0
    while (k < n) {
      val f = floats(k)
      if (f > 0) s += f * 1.0001
      h = Grid.mix(h + k)
      k += 1
    }
    sink = s + h
    System.nanoTime() - t0
  }

  /** Compiles the loop, so that the first samples time compiled code. */
  def warm(): Unit = (1 to 40).foreach(_ => sample())
}
