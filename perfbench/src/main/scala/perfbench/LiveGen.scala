package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Open-loop producer for a dumped stream: seeded Poisson arrivals at
  * `rate` records/s for `seconds`, routed to shards by the same
  * `pmod(hash(user_id), shards)` rule as `ShardedEvents.dump`, each
  * record's `ts` being the time it is due. Every tick publishes, per
  * shard, the records that have come due as one new part file that
  * sorts after the existing ones, written beside the stream and renamed
  * in, so a reader never sees a half-written record.
  */
final class LiveGen(root: String, shards: Int, histEnd: Array[Long],
    firstEventId: Long, users: Int, rate: Double, seconds: Double,
    seed: Long, tickMs: Int, stage: File) {

  private val rng = new java.util.SplittableRandom(seed)
  private val offsetsUs: Array[Long] = {
    val b = new mutable.ArrayBuilder.ofLong
    var t = 0.0
    var done = false
    while (!done) {
      t += -math.log(1.0 - rng.nextDouble()) / rate * 1e6
      if (t >= seconds * 1e6) done = true else b.addOne(t.toLong)
    }
    b.result()
  }
  val n: Int = offsetsUs.length
  private val userOf = Array.fill(n)(rng.nextInt(users).toLong)
  val shardOf: Array[Int] = userOf.map { u =>
    val h = Murmur3_x86_32.hashLong(u, 42)
    ((h % shards) + shards) % shards
  }
  private val types = Array("click", "signup", "error", "view", "purchase")
  /** Sequence number of record i within its shard. */
  val seqOf: Array[Long] = {
    val next = histEnd.clone()
    shardOf.map { s => val q = next(s); next(s) += 1; q }
  }
  // Line layout of ShardedEvents: seq, event_id, ts_us, user_id,
  // event_type, value, props; ts is filled in when the record is due.
  private val heads = Array.tabulate(n)(i => s"${seqOf(i)}\t${firstEventId + i}\t")
  private val tails = Array.tabulate(n) { i =>
    s"\t${userOf(i)}\t${types(rng.nextInt(5))}\t" +
      s"${math.max(0.01, math.rint(-math.log(1.0 - rng.nextDouble()) * 5000) / 100)}\t" +
      s"""{"k": ${rng.nextInt(100)}}"""
  }
  /** Per-shard sequence end after the run: histEnd + records routed. */
  val endSeq: Array[Long] = {
    val e = histEnd.clone()
    shardOf.foreach(s => e(s) += 1)
    e
  }
  /** Due and publish times (µs) of every record, filled by `run`. */
  val dueUs = new Array[Long](n)
  val writtenUs = new Array[Long](n)
  def run(): Unit = {
    stage.mkdirs()
    for (s <- 0 until shards) new File(root, f"shard_id=shard-$s%03d").mkdirs()
    val startUs = Clock.nowUs
    var i = 0
    var tick = 0
    while (i < n) {
      val now = Clock.nowUs
      val perShard = Array.fill(shards)(ArrayBuffer.empty[Int])
      while (i < n && startUs + offsetsUs(i) <= now) {
        perShard(shardOf(i)) += i; i += 1
      }
      for (s <- 0 until shards if perShard(s).nonEmpty) {
        val sb = new StringBuilder
        perShard(s).foreach { j =>
          dueUs(j) = startUs + offsetsUs(j)
          sb.append(heads(j)).append(dueUs(j)).append(tails(j)).append('\n')
        }
        val name = f"part-9-$tick%08d-$s%03d.txt"
        val tmp = new File(stage, name)
        Files.write(tmp.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp.toPath,
          new File(root, f"shard_id=shard-$s%03d/$name").toPath,
          StandardCopyOption.ATOMIC_MOVE)
        val done = Clock.nowUs
        perShard(s).foreach(j => writtenUs(j) = done)
      }
      tick += 1
      val nextTickUs = startUs + tick.toLong * tickMs * 1000L
      val sleepMs = (nextTickUs - Clock.nowUs) / 1000L
      if (sleepMs > 0) Thread.sleep(sleepMs)
    }
  }
}
