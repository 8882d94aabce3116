package perfbench

import java.io.{OutputStream, PrintStream}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** The stdout `graft.Tail` prints to. Every line starts with
  * `shard-NNN <seq> ` (the benchmark's `-f` template puts
  * `{{.ShardId}} {{.SequenceNumber}}` first); the sink records, per
  * shard, each emitted sequence number and the microsecond it was
  * emitted, and checks the stream's output contract afterwards.
  * `dropFirst` loses the first record, so tests can see the check fail.
  */
final class Sink(shards: Int, timed: Boolean, dropFirst: Boolean = false)
    extends PrintStream(OutputStream.nullOutputStream()) {
  private val seqs = Array.fill(shards)(new mutable.ArrayBuilder.ofLong)
  private val emitUs = Array.fill(shards)(new mutable.ArrayBuilder.ofLong)
  @volatile private var count = 0L
  private var badLines = 0L
  /** Nanoseconds spent inside `println` (only when `timed`). */
  var writeNs = 0L

  def lines: Long = count

  // Read once the run has ended: a builder's result() may be taken once.
  private lazy val seqArrays = seqs.map(_.result())
  private lazy val emitArrays = emitUs.map(_.result())

  override def println(x: String): Unit = {
    val t0 = if (timed) System.nanoTime() else 0L
    val now = Clock.nowUs
    val sp1 = x.indexOf(' ')
    val sp2 = if (sp1 < 0) -1 else x.indexOf(' ', sp1 + 1)
    if (sp1 < 7 || sp2 < 0 || !x.startsWith("shard-")) badLines += 1
    else {
      val shard = Integer.parseInt(x, 6, sp1, 10)
      val seq = java.lang.Long.parseLong(x, sp1 + 1, sp2, 10)
      if (shard < 0 || shard >= shards) badLines += 1
      else if (dropFirst && count == 0) () // injected fault: lose a record
      else {
        seqs(shard).addOne(seq)
        emitUs(shard).addOne(now)
      }
    }
    count += 1
    if (timed) writeNs += System.nanoTime() - t0
  }

  /** Emission times (µs) of all records, in no particular order. */
  def allEmitUs: Array[Long] = emitArrays.flatten

  /** Emission time of (shard, seq); the record's first emission. */
  def emitIndex: Map[(Int, Long), Long] = {
    val m = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    for (s <- 0 until shards) {
      val q = seqArrays(s)
      val e = emitArrays(s)
      var i = 0
      while (i < q.length) { m.getOrElseUpdate((s, q(i)), e(i)); i += 1 }
    }
    m.toMap
  }

  /** Checks that every shard emitted exactly the sequence numbers
    * [from(s), until(s)), each once, in increasing order. Returns the
    * number of records expected and the number that failed: missing,
    * duplicated, out of order, or not expected at all.
    */
  def check(from: Array[Long], until: Array[Long]): (Long, Long, Seq[String]) = {
    var expected = 0L
    var failed = badLines
    val notes = ArrayBuffer.empty[String]
    if (badLines > 0) notes += s"$badLines unparseable lines"
    for (s <- 0 until shards) {
      val n = until(s) - from(s)
      expected += n
      val seen = new java.util.BitSet(math.max(n, 0L).toInt)
      var maxSeen = Long.MinValue
      var dup, ooo, stray = 0L
      seqArrays(s).foreach { q =>
        if (q < from(s) || q >= until(s)) stray += 1
        else {
          val i = (q - from(s)).toInt
          if (seen.get(i)) dup += 1
          else {
            seen.set(i)
            if (q < maxSeen) ooo += 1
          }
          if (q > maxSeen) maxSeen = q
        }
      }
      val missing = n - seen.cardinality()
      val bad = missing + dup + ooo + stray
      if (bad > 0)
        notes += s"shard $s: $missing missing, $dup duplicated, $ooo out of order, $stray unexpected"
      failed += bad
    }
    (expected, failed, notes.toSeq)
  }
}
