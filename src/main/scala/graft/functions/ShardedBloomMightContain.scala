package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Executor-wide cache of DESERIALIZED Bloom filters, shared by
  * [[ShardedBloomMightContain]] (per-bucket shards) and
  * [[BloomMightContain]] (one driver-built filter), bounded by total
  * SERIALIZED BYTES, not entry count: at the scales the sharded mode
  * exists for (shards of 10⁸ entries ≈ 120 MB each) an entry-count cap
  * cannot bind before executor OOM, so eviction weighs each entry by
  * its serialized length (≈ the deserialized bit array's footprint)
  * against a byte budget — default 512 MB, configurable via the
  * `graft.bloomCache.maxBytes` system property. The newest entry is
  * always retained even when it alone exceeds the budget (an oversized
  * filter must still work; it just evicts everything else), so the
  * cache degrades to deserialize-per-stage, never to failure.
  *
  * STALENESS: entries are keyed by `(callId, stageId, bucket)`. The
  * stage id is the freshness token — re-executing a retained DataFrame
  * (e.g. after the underlying history source changed) runs NEW stages,
  * so every re-execution deserializes the bytes the plan actually
  * delivered rather than serving a previous execution's filters. This
  * is strictly stronger than fingerprinting a sample of the bytes: one
  * appended history doc flips ≤ k bits in a multi-MB filter, which an
  * offset sample provably misses. Driver-LOCAL evaluation (interpreted
  * eval with no [[TaskContext]], stageId −1) has no stage boundary to
  * key on, so there the key carries an FNV-1a fingerprint of the FULL
  * bytes — one linear pass per (rare) driver-side evaluation, so even
  * a few-bit mutation of a retained plan's filter keys a fresh entry.
  * Dead stages' entries linger only until the byte budget churns them
  * (LRU).
  */
final class BloomFilterCache(val maxBytes: Long) {
  require(maxBytes > 0, s"maxBytes $maxBytes")

  private final class Entry(val bf: BloomFilter, val weight: Long,
    val verifyBytes: Array[Byte])
  private var total = 0L
  private val m =
    new java.util.LinkedHashMap[BloomFilterCache.Key, Entry](64, 0.75f, true) {
      // Eviction happens in put() against the byte budget, not here.
    }

  /** Fast-path probe: the deserialized filter, or null on miss. Never
    * touches the serialized bytes — the codegen'd caller uses this to
    * skip extracting the binary column (a full per-row copy in
    * UnsafeRow) on every hit.
    */
  def lookup(k: BloomFilterCache.Key): BloomFilter =
    m.synchronized { val e = m.get(k); if (e == null) null else e.bf }

  /** Deserialize-and-insert on miss (outside the lock: a lost race
    * costs one duplicate deserialization, not serializing every task
    * on a shared monitor), then evict eldest entries until the byte
    * budget holds — always keeping the entry just inserted.
    *
    * `verifyContent = true` (the content-addressed
    * [[ShardedBloomCache.getByContent]] path, whose key carries no
    * stage/call separation) retains the serialized bytes beside the
    * filter and compares them on every hit: a 64-bit fingerprint
    * collision between two DIFFERENT filters must return a private
    * fresh filter (uncached — two colliding contents would otherwise
    * thrash one slot), never silently serve the other expression's bit
    * array. The retained copy doubles the entry's weight, which the
    * byte budget accounts for.
    */
  def getOrLoad(k: BloomFilterCache.Key, bytes: Array[Byte],
      verifyContent: Boolean = false): BloomFilter = {
    val hit = m.synchronized(m.get(k))
    if (hit != null) {
      if (!verifyContent || java.util.Arrays.equals(hit.verifyBytes, bytes))
        return hit.bf
      // Fingerprint collision: serve correctness, skip the cache.
      return BloomFilter.readFrom(bytes)
    }
    val bf = BloomFilter.readFrom(bytes)
    val weight = if (verifyContent) 2L * bytes.length else bytes.length.toLong
    m.synchronized {
      val again = m.get(k)
      if (again != null) {
        if (!verifyContent ||
            java.util.Arrays.equals(again.verifyBytes, bytes)) again.bf
        else bf
      } else {
        m.put(k, new Entry(bf, weight,
          if (verifyContent) bytes.clone() else null))
        total += weight
        val it = m.entrySet().iterator()
        while (total > maxBytes && m.size() > 1 && it.hasNext) {
          val eldest = it.next()
          if (eldest.getKey != k) {
            total -= eldest.getValue.weight
            it.remove()
          }
        }
        bf
      }
    }
  }

  def currentBytes: Long = m.synchronized(total)
  def entryCount: Int = m.synchronized(m.size())
}

object BloomFilterCache {
  /** `callId` distinguishes expression constructions; `stageId` is the
    * per-execution freshness token (−1 = driver-local eval, −2 =
    * content-addressed [[BloomMightContain]] entries); `bucket` the
    * shard id (repurposed as byte length for content keys); `fp` the
    * content fingerprint (0 where stageId provides freshness).
    */
  final case class Key(callId: String, stageId: Int, bucket: Long, fp: Long)
}

/** Static facade the generated code calls into — one process-wide
  * [[BloomFilterCache]] instance per executor JVM.
  */
object ShardedBloomCache {
  private val DefaultMaxBytes: Long = 512L * 1024 * 1024
  lazy val instance: BloomFilterCache = new BloomFilterCache(
    sys.props.get("graft.bloomCache.maxBytes").map(_.toLong)
      .getOrElse(DefaultMaxBytes))

  /** Current stage id, or −1 when no task is running (driver-local
    * interpreted eval). One ThreadLocal read per row — noise next to
    * the k hash probes of the Bloom test itself.
    */
  def stageId(): Int = {
    val tc = TaskContext.get()
    if (tc == null) -1 else tc.stageId()
  }

  /** FNV-1a over the FULL bytes — the content address for
    * [[BloomMightContain]] (computed once per deserialized expression
    * instance, never per row) and the driver-eval freshness token
    * (one linear pass per driver-local evaluation — rare enough that
    * exactness beats the sampled fingerprint it replaced, which
    * provably missed few-bit mutations).
    */
  private[functions] def fullFp(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    h
  }

  /** Codegen fast path: probe by key alone (no bytes). Returns null on
    * miss AND on the driver (stageId −1), where freshness needs the
    * bytes' fingerprint — the caller then extracts the binary column
    * and calls [[insert]].
    */
  def lookup(callId: String, sid: Int, bucket: Long): BloomFilter =
    if (sid < 0) null
    else instance.lookup(BloomFilterCache.Key(callId, sid, bucket, 0L))

  /** Miss path: deserialize (or join a racing task's entry) under the
    * byte budget. On the driver (sid < 0) the key carries the full
    * content fingerprint instead of a stage id.
    */
  def insert(callId: String, sid: Int, bucket: Long,
      bytes: Array[Byte]): BloomFilter = {
    val k =
      if (sid >= 0) BloomFilterCache.Key(callId, sid, bucket, 0L)
      else BloomFilterCache.Key(callId, -1, bucket, fullFp(bytes))
    instance.getOrLoad(k, bytes)
  }

  /** Interpreted-eval path (bytes already extracted). */
  def get(callId: String, bucket: Long, bytes: Array[Byte]): BloomFilter =
    insert(callId, stageId(), bucket, bytes)

  /** Content-addressed entry for [[BloomMightContain]]: one
    * deserialized filter per DISTINCT bytes per executor JVM, however
    * many tasks ship the expression. Hits are verified against the
    * retained serialized bytes, so a fingerprint collision between two
    * different filters can never serve the wrong bit array (see
    * [[BloomFilterCache.getOrLoad]]).
    */
  def getByContent(bytes: Array[Byte]): BloomFilter =
    instance.getOrLoad(
      BloomFilterCache.Key("", -2, bytes.length.toLong, fullFp(bytes)),
      bytes, verifyContent = true)
}

/** Bloom membership test against a PER-ROW serialized filter column —
  * the probe half of [[graft.text.CorpusOps.dedupAgainstPartitioned]]'s
  * sharded design, where each incoming row meets exactly its history
  * bucket's filter through an equi-join instead of one driver-merged
  * filter. Codegen'd like [[BloomMightContain]]; the deserialized
  * filters live in [[ShardedBloomCache]] keyed by
  * `(callId, stageId, bucket)` — `callId` is minted per expression
  * CONSTRUCTION (one per analyzed plan) so two dedup calls never
  * collide, and the stage id keeps a RE-execution of a retained plan
  * from serving a previous execution's filters (see
  * [[BloomFilterCache]] for the staleness and byte-budget story).
  *
  * The generated code probes the cache by key BEFORE extracting the
  * binary column: `UnsafeRow.getBinary` copies the full serialized
  * filter per access, so on the hit path — every row after a bucket's
  * first — the expression reads only the two longs, and the
  * multi-MB-per-row copy the naive form would pay never happens.
  * Ahead of the shared cache sits a PER-TASK memo of the last
  * `(bucket, filter)` pair (codegen mutable state, one instance per
  * task, so no publication concerns): after the hash-partitioned
  * probe join a task's rows arrive grouped by bucket, so the common
  * row touches no synchronized structure at all — the shared LRU's
  * monitor is taken once per bucket RUN, not once per row, which is
  * what keeps 32 probe threads from serializing on one lock.
  *
  * Null-safe on every child: a null hash has no membership, and a null
  * filter means the row's bucket holds NO history at all (the left
  * outer probe join found no bucket row) — callers coalesce the null
  * to `false`, i.e. "definitely new".
  *
  * TWO codegen modes, chosen by `strictNulls`:
  *
  *  - `strictNulls = true` (the SQL registry's 3-arg default): every
  *    child is evaluated on every row, so a null filter yields null
  *    exactly as interpreted eval does, whatever was cached for the
  *    bucket — registered-SQL callers feeding arbitrary heterogeneous
  *    `(bucket, filter)` rows get exact per-row semantics. The cost
  *    is the per-row binary extraction (`UnsafeRow.getBinary` copies
  *    the serialized filter) the fast path exists to avoid.
  *  - `strictNulls = false` (the operator's probe path; the SQL
  *    registry's explicit 4th argument): the binary column is only
  *    extracted on a cache MISS. One documented edge: if a
  *    hand-crafted input maps ONE bucket id to both null and non-null
  *    filter values within a stage, a null-filter row evaluated after
  *    the bucket's filter was cached uses the cached filter instead
  *    of returning null. A probe join's output cannot produce that
  *    shape (a bucket either matched its one shard row or matched
  *    nothing), so the operator never sees it — per-bucket filters
  *    are constants there, which is the fast mode's contract.
  *
  *  In BOTH modes the cache key is the bucket (per call, per stage):
  *  two DIFFERENT non-null filters under one bucket within a stage
  *  serve the first-cached filter, in codegen and interpreted eval
  *  alike — per-bucket filters are constants; that is the
  *  expression's contract, strict mode just makes the NULL edge
  *  exact.
  */
case class ShardedBloomMightContain(
    first: Expression, second: Expression, third: Expression,
    callId: String = java.util.UUID.randomUUID().toString,
    strictNulls: Boolean = true)
    extends TernaryExpression {

  private def bucket = first
  private def filterBytes = second
  private def hash = third

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    if (bucket.dataType == LongType && filterBytes.dataType == BinaryType &&
        hash.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        "sharded_bloom_might_contain expects (bigint bucket, binary " +
          s"filter, bigint hash), got (${bucket.dataType.simpleString}, " +
          s"${filterBytes.dataType.simpleString}, " +
          s"${hash.dataType.simpleString})")

  override def prettyName: String = "sharded_bloom_might_contain"

  override def nullSafeEval(b: Any, bytes: Any, h: Any): Any =
    ShardedBloomCache
      .get(callId, b.asInstanceOf[Long], bytes.asInstanceOf[Array[Byte]])
      .mightContainLong(h.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // Hand-rolled (not nullSafeCodeGen) so the binary column is only
    // extracted on a cache MISS in fast mode — see the class doc.
    val idRef = ctx.addReferenceObj("shardedBloomCallId", callId,
      "java.lang.String")
    val bEv = bucket.genCode(ctx)
    val hEv = hash.genCode(ctx)
    val fEv = filterBytes.genCode(ctx)
    val bf = ctx.freshName("bloomFilter")
    val sid = ctx.freshName("stageId")
    // Per-task last-bucket memo (see class doc): mutable state lives in
    // the generated class instance, one per task.
    val lastBucket = ctx.addMutableState("long", "sbmcLastBucket",
      v => s"$v = Long.MIN_VALUE;")
    val lastFilter = ctx.addMutableState(
      "org.apache.spark.util.sketch.BloomFilter", "sbmcLastFilter")
    if (strictNulls) {
      // Exact per-row semantics: all three children evaluate on every
      // row, a null anywhere is null — bit-identical to interpreted
      // eval. The memo still skips the shared cache's monitor on
      // bucket runs; only the binary extraction is paid per row.
      val code =
        code"""
          ${bEv.code}
          ${hEv.code}
          ${fEv.code}
          boolean ${ev.isNull} =
            ${bEv.isNull} || ${hEv.isNull} || ${fEv.isNull};
          boolean ${ev.value} = false;
          if (!${ev.isNull}) {
            org.apache.spark.util.sketch.BloomFilter $bf =
              ($lastFilter != null && $lastBucket == ${bEv.value})
                ? $lastFilter : null;
            if ($bf == null) {
              int $sid = graft.functions.ShardedBloomCache.stageId();
              $bf = graft.functions.ShardedBloomCache.lookup(
                $idRef, $sid, ${bEv.value});
              if ($bf == null) {
                $bf = graft.functions.ShardedBloomCache.insert(
                  $idRef, $sid, ${bEv.value}, ${fEv.value});
              }
              $lastBucket = ${bEv.value};
              $lastFilter = $bf;
            }
            ${ev.value} = $bf.mightContainLong(${hEv.value});
          }
        """
      return ev.copy(code = code)
    }
    val code =
      code"""
        ${bEv.code}
        ${hEv.code}
        boolean ${ev.isNull} = true;
        boolean ${ev.value} = false;
        if (!${bEv.isNull} && !${hEv.isNull}) {
          org.apache.spark.util.sketch.BloomFilter $bf =
            ($lastFilter != null && $lastBucket == ${bEv.value})
              ? $lastFilter : null;
          if ($bf == null) {
            int $sid = graft.functions.ShardedBloomCache.stageId();
            $bf = graft.functions.ShardedBloomCache.lookup(
              $idRef, $sid, ${bEv.value});
            if ($bf == null) {
              ${fEv.code}
              if (!${fEv.isNull}) {
                $bf = graft.functions.ShardedBloomCache.insert(
                  $idRef, $sid, ${bEv.value}, ${fEv.value});
              }
            }
            if ($bf != null) {
              $lastBucket = ${bEv.value};
              $lastFilter = $bf;
            }
          }
          if ($bf != null) {
            ${ev.isNull} = false;
            ${ev.value} = $bf.mightContainLong(${hEv.value});
          }
        }
      """
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): ShardedBloomMightContain =
    copy(first = newFirst, second = newSecond, third = newThird)
}
