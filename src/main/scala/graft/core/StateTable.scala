package graft.core

import java.util.concurrent.locks.ReentrantLock
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's keyed state layer — the Spark-side stand-in for the
  * Redis keyspace (SURVEY §1.1).
  *
  * Every key holds a hash (field → value), which covers both string
  * values (single field "value") and hash values, the two types the
  * reference's tests exercise, and/or a list. Every write — SET, HSET,
  * HDEL, INCRBY, DEL and the list pushes and pops, BLPOP's included — is
  * a [[StateTable.Txn]] op landed by one commit path under one lock,
  * which also clears TTLs, enforces the key cap and dispatches the
  * keyspace events. This gives the reference's sync-execution atomicity
  * (E8: sync functions run under the Redis GIL,
  * `redisgears_core/src/lib.rs:1368-1387`) and atomic effect visibility
  * (E12: replication as MULTI/EXEC) at *transaction* granularity — the
  * documented weaker-but-equivalent guarantee from SURVEY §7.5.1.
  *
  * Storage mirrors Redis's `db->dict` / `db->expires` split: `entries`
  * maps each live key to one [[StateTable.Entry]] holding its hash and
  * list values, LRU stamp, byte footprint and owning library, and
  * `expiries` holds deadlines for the keys that have a TTL only, so the
  * active sweep visits just those. Both are plain hash maps: EVERY read
  * or write of them (and of the byte counters) holds `lock`, as every
  * Redis command runs on its main thread — no access may bypass it.
  *
  * Keyspace notifications (the R4 trigger source) are emitted
  * synchronously inside the commit, matching the reference's
  * notification-at-command-time semantics
  * (`keys_notifications.rs:150-209`). A reentrancy guard replicates the
  * reference's recursion blocker (`lib.rs:629-645`): writes performed
  * *by* a notification callback do not re-fire notifications.
  *
  * Scale note: this is driver-side trigger state (the reference's
  * per-consumer state is similarly tiny — SURVEY §7.5.6). Bulk data
  * lives in parquet tables; `snapshot`/`restore` move state to/from
  * distributed storage for durability.
  */
final class StateTable {
  import StateTable._

  // key -> its entry; an entry exists exactly while the key does
  private val entries = new java.util.HashMap[String, Entry]()
  // key -> absolute expiry epoch-millis (Redis TTL semantics)
  private val expiries = scala.collection.mutable.HashMap.empty[String, Long]
  private val lock = new ReentrantLock()
  private val listSignal = lock.newCondition()
  private val subscribers = new ArrayBuffer[KeyEvent => Unit]
  private val inNotification = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  // --- eviction (the reference's `evicted` notification class,
  // keys_notifications.rs:191-208: Redis fires it when maxmemory
  // pressure removes a key). The analogue cap here is a KEY COUNT
  // (`maxKeys`, 0 = unbounded — the default): when a write pushes the
  // table past the cap, least-recently-touched keys are removed and
  // each removal fires an "evicted" event through the same subscriber
  // surface as "set"/"expired", so keyspace triggers can consume the
  // full reference event-class set. Recency is approximate LRU
  // (touched on writes and point reads), like Redis's sampled LRU: each
  // entry carries the `touchSeq` of its last touch.
  @volatile private var maxKeys: Int = 0
  private var touchSeq = 0L

  /** Set the eviction cap (0 disables). Takes effect on the next
    * write-bearing commit. */
  def setMaxKeys(n: Int): Unit = {
    require(n >= 0, s"max-keys must be non-negative, got $n")
    maxKeys = n
  }

  private def touch(e: Entry): Unit = { touchSeq += 1; e.stamp = touchSeq }
  private def entryFor(key: String): Entry = entries.computeIfAbsent(key, _ => new Entry)

  // --- memory accounting (E11: the reference caps each library's V8
  // heap, v8_backend.rs:305-393; the keyspace analogue here is exact
  // bytes-in-state per key, attributed to the library whose function
  // performed the write). Maintained incrementally at every mutation
  // chokepoint, so reads are O(1): each entry's `bytes` is its key's
  // footprint (key name + all field names/values + all list elements,
  // in chars ≈ bytes through the ISO-8859-1 raw bridge),
  // `usedBytesTotal` their sum, `ownerBytes` the per-library rollup.
  // Ownership follows the LAST LIBRARY WRITER — the attribution Redis
  // itself cannot do and the reference approximates with per-isolate
  // heap caps; host-code writes (no writer scope) never re-attribute: a
  // brand-new host key is unattributed, and a host overwrite leaves the
  // key charged to the library whose dataset it belongs to.
  private val ownerBytes = new java.util.HashMap[String, Long]()
  private var usedBytesTotal = 0L
  // the writing library, set by the engine around each function
  // invocation (sync calls, async pool threads, trigger deliveries)
  private[core] val writerScope = new ThreadLocal[String]()

  private def addOwner(o: String, delta: Long): Unit = if (o != null && delta != 0) {
    val next = ownerBytes.getOrDefault(o, 0L) + delta
    if (next == 0L) ownerBytes.remove(o) else ownerBytes.put(o, next)
  }

  /** Re-measure a live key after a mutation and roll the delta into the
    * global and per-owner counters; on a write, re-attribute the key to
    * the current writer scope. Caller holds the lock. */
  private def resize(key: String, e: Entry, write: Boolean = false): Unit = {
    var now = key.length.toLong
    if (e.hash != null) e.hash.foreach { case (f, v) => now += f.length.toLong + v.length }
    if (e.list != null) e.list.foreach(v => now += v.length)
    val scope = if (write) writerScope.get() else null
    val owner = if (scope != null) scope else e.owner
    usedBytesTotal += now - e.bytes
    if (e.owner != null && e.owner != owner) addOwner(e.owner, -e.bytes)
    addOwner(owner, if (owner == e.owner) now - e.bytes else now)
    e.bytes = now
    e.owner = owner
  }

  /** Drop a key's entry and its TTL (Redis drops a TTL with its key),
    * and release its bytes. Caller holds the lock. */
  private def unlink(key: String, e: Entry): Unit = {
    entries.remove(key)
    if (expiries.nonEmpty) expiries.remove(key)
    usedBytesTotal -= e.bytes
    addOwner(e.owner, -e.bytes)
  }

  /** Total exact bytes in state (keys + fields + values + list
    * elements). O(1). */
  def usedBytes: Long = withLock(usedBytesTotal)

  /** Exact bytes attributed to `owner` (last-writer attribution).
    * O(1). */
  def usedBytesBy(owner: String): Long =
    withLock(ownerBytes.getOrDefault(owner, 0L))

  /** Evict least-recently-touched keys until the table fits the cap;
    * returns the eviction events to dispatch (caller holds the lock). */
  private def enforceCap(): Seq[KeyEvent] = {
    val cap = maxKeys
    val overflow = entries.size - cap
    if (cap <= 0 || overflow <= 0) Nil
    else {
      // one key scan per overflowing commit — not one min-scan per
      // victim — so a burst shedding k keys costs O(n log n) once,
      // not O(n·k); victims evict in recency order
      entries.asScala.toSeq.sortBy(_._2.stamp).take(overflow).map { case (victim, e) =>
        unlink(victim, e)
        KeyEvent("evicted", victim, System.currentTimeMillis(), None)
      }
    }
  }

  /** Run `body` atomically (single-writer). Reads inside see their own
    * writes; other threads see nothing until commit returns. */
  def commit[A](body: Txn => A): A = commitGuarded(StateTable.NoGuard)(body)

  /** [[commit]] with a per-key access guard — the hook ACL-checked
    * transactions ([[FunctionContext.atomic]]) use. The guard is called
    * as (key, isWrite) before each Txn operation and may throw.
    * `growGuard(key)` additionally runs before each GROWING op
    * (set/hset/incrBy/pushes) but not before del/hdel/pops — so a
    * memory-cap guard denies growth while leaving the freeing path open
    * (DENYOOM semantics: memory-freeing commands stay allowed over cap). */
  def commitGuarded[A](guard: (String, Boolean) => Unit,
      growGuard: String => Unit = StateTable.NoGrowGuard)(body: Txn => A): A = {
    lock.lock()
    try {
      val txn = new Txn(guard, growGuard)
      val result = body(txn)
      // cap enforcement happens after the transaction's writes land, and
      // its "evicted" events dispatch in order behind the write events
      dispatch(txn.flush() ++ enforceCap())
      if (txn.pushed) listSignal.signalAll()
      result
    } finally lock.unlock()
  }

  /** Deliver keyspace events to the subscribers, unless this thread is
    * already inside a notification callback (caller holds the lock). */
  private def dispatch(events: Seq[KeyEvent]): Unit =
    if (!inNotification.get()) {
      inNotification.set(true)
      try events.foreach(e => subscribers.foreach(_(e)))
      finally inNotification.set(false)
    }

  /** Subscribe to keyspace events (the keyspace-trigger engine hook). */
  def subscribe(fn: KeyEvent => Unit): Unit = withLock(subscribers += fn)

  // --- reads: take the (reentrant) lock so a running sync function is
  // fully isolated — the GIL analogue of E8: nothing observes state
  // mid-invocation. A function's own reads re-enter the lock it holds.
  private def withLock[A](a: => A): A = { lock.lock(); try a finally lock.unlock() }

  // --- TTL (Redis EXPIRE semantics + the reference's `expired`
  // keyspace notification, `keys_notifications.rs` / R4). Expiration is
  // lazy: a read past the deadline removes the key and fires "expired"
  // (like Redis's lazy path); `sweepExpired` is the active-cycle
  // analogue for callers that need timely notifications without reads.
  private def expireIfDue(key: String): Unit =
    if (expiries.nonEmpty) expiries.get(key).foreach { deadline =>
      if (System.currentTimeMillis() >= deadline) {
        expiries.remove(key)
        val e = entries.get(key)
        if (e != null) {
          unlink(key, e)
          dispatch(KeyEvent("expired", key, System.currentTimeMillis(), None) :: Nil)
        }
      }
    }

  /** Set a TTL on an existing key. False if the key does not exist.
    * A deadline past the Long range is refused, as Redis refuses it. */
  def expire(key: String, ttlMs: Long): Boolean = withLock {
    val deadline =
      try Math.addExact(System.currentTimeMillis(), ttlMs)
      catch { case _: ArithmeticException =>
        throw new IllegalArgumentException(s"invalid expire time $ttlMs ms for '$key'") }
    expireIfDue(key)
    val present = entries.containsKey(key)
    if (present) expiries.update(key, deadline)
    present
  }

  /** Remaining TTL in ms; None when the key has no TTL or is gone. */
  def ttl(key: String): Option[Long] = withLock {
    expireIfDue(key)
    expiries.get(key).map(d => math.max(0L, d - System.currentTimeMillis()))
  }

  /** Actively expire every due key (fires "expired" events). Returns
    * the number of keys expired. */
  def sweepExpired(): Int = withLock {
    val before = entries.size
    expiries.keys.toSeq.foreach(expireIfDue)
    before - entries.size
  }

  def get(key: String): Option[String] = hget(key, ValueField)
  def hget(key: String, field: String): Option[String] = withLock {
    expireIfDue(key)
    val e = entries.get(key)
    val v = if (e == null || e.hash == null) None else e.hash.get(field)
    if (v.isDefined) touch(e)
    v
  }
  def hgetall(key: String): Map[String, String] = peek(key).getOrElse(Map.empty)
  def exists(key: String): Boolean = withLock { expireIfDue(key); entries.containsKey(key) }
  def scan(prefix: String): Seq[String] = withLock {
    expiries.keys.toSeq.filter(_.startsWith(prefix)).foreach(expireIfDue)
    entries.keySet.asScala.filter(_.startsWith(prefix)).toSeq.sorted
  }
  def size: Int = withLock { sweepExpired(); entries.size }

  /** A key's hash as a transaction reads it: None when the key is
    * absent, an empty map for a list-only key. Touches a non-empty hash,
    * as [[hgetall]] does. */
  private def peek(key: String): Option[Map[String, String]] = withLock {
    expireIfDue(key)
    val e = entries.get(key)
    if (e == null) None
    else if (e.hash == null) Some(Map.empty)
    else { if (e.hash.nonEmpty) touch(e); Some(e.hash) }
  }

  // --- convenience single-op writes (each is its own transaction) ---
  def set(key: String, value: String): Unit = commit(_.set(key, value))
  def hset(key: String, fields: (String, String)*): Unit = commit(_.hset(key, fields: _*))
  def del(key: String): Boolean = commit(_.del(key))
  def incrBy(key: String, delta: Long): Long = commit(_.incrBy(key, delta))
  def hdel(key: String, fields: String*): Int = commit(_.hdel(key, fields: _*))

  // --- list operations (Redis list type; LPUSH/RPUSH/LPOP/RPOP
  // semantics) + blocking pop (C3 `callAsync` blocking commands).
  // Blocking is refused while the current thread holds the state lock —
  // i.e. inside a sync call or an atomic section — which is exactly the
  // reference's `isBlockAllowed() == false` inside MULTI/EXEC (C4,
  // `run_ctx.rs:197-199`).
  def lpush(key: String, values: String*): Long = commit(_.lpush(key, values: _*))
  def rpush(key: String, values: String*): Long = commit(_.rpush(key, values: _*))
  def lpop(key: String): Option[String] = commit(_.lpop(key))
  def rpop(key: String): Option[String] = commit(_.rpop(key))

  private def listOf(key: String): Vector[String] = {
    val e = entries.get(key)
    if (e == null || e.list == null) Vector.empty else e.list
  }
  def llen(key: String): Long = withLock { expireIfDue(key); listOf(key).size.toLong }
  def lrange(key: String): Seq[String] = withLock { expireIfDue(key); listOf(key) }

  /** BLPOP: block until the list is non-empty or the timeout expires.
    * Refused while the caller holds the state lock (C4). */
  def blpop(key: String, timeoutMs: Long): Option[String] = {
    if (lock.isHeldByCurrentThread)
      throw new IllegalStateException(
        "blocking pop inside a sync call or atomic section (isBlockAllowed=false, C4)")
    withLock {
      var out = lpop(key)
      var remaining = java.util.concurrent.TimeUnit.MILLISECONDS.toNanos(timeoutMs)
      while (out.isEmpty && remaining > 0) {
        remaining = listSignal.awaitNanos(remaining)
        out = lpop(key)
      }
      out
    }
  }

  /** True when a Promise-returning (blocking) operation may run on this
    * thread (C4 `isBlockAllowed`). */
  def isBlockAllowed: Boolean = !lock.isHeldByCurrentThread

  // --- binary-safe access (C2 callRaw analogue). Values are stored in
  // the String table through the ISO-8859-1 byte<->char bridge: every
  // byte 0..255 maps to the same char code, so ANY byte sequence —
  // including invalid UTF-8 — round-trips losslessly, and snapshots
  // (parquet strings) keep working. The reference's binary round-trip
  // contract: pytests/test_stream_reader.py:31-54.
  def setRaw(key: String, value: Array[Byte]): Unit = set(key, StateTable.b2s(value))
  def getRaw(key: String): Option[Array[Byte]] = get(key).map(StateTable.s2b)
  def hsetRaw(key: String, fields: (String, Array[Byte])*): Unit =
    hset(key, fields.map { case (f, v) => f -> StateTable.b2s(v) }: _*)
  def hgetRaw(key: String, field: String): Option[Array[Byte]] =
    hget(key, field).map(StateTable.s2b)

  /** Dump the state as a DataFrame (key, field, value) for durable
    * snapshot to parquet. */
  def snapshot(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = withLock {
      // list elements, TTL deadlines and per-key library attribution
      // snapshot as pseudo-fields so the schema stays
      // (key, field, value) — RDB persists expiries too, and carrying
      // the owner keeps E11 accounting identical across a restore
      val hashRows, listRows, ownerRows = Seq.newBuilder[(String, String, String)]
      entries.forEach { (k, e) =>
        if (e.hash != null) e.hash.foreach { case (f, v) => hashRows += ((k, f, v)) }
        if (e.list != null) e.list.zipWithIndex.foreach { case (v, i) =>
          listRows += ((k, f"${StateTable.ListField}$i%09d", v))
        }
        if (e.owner != null) ownerRows += ((k, StateTable.OwnerField, e.owner))
      }
      val ttlRows = expiries.toSeq.map { case (k, d) => (k, StateTable.TtlField, d.toString) }
      hashRows.result() ++ listRows.result() ++ ttlRows ++ ownerRows.result()
    }
    rows.toDF("key", "field", "value")
  }

  /** Restore from a snapshot DataFrame. Replaces current content. */
  def restore(df: DataFrame): Unit = {
    val rows = df.select("key", "field", "value").collect()
    lock.lock()
    try {
      entries.clear()
      expiries.clear()
      val listAcc = scala.collection.mutable.Map.empty[String, ArrayBuffer[(String, String)]]
      val owners = scala.collection.mutable.Map.empty[String, String]
      rows.foreach { r =>
        val (k, f, v) = (r.getString(0), r.getString(1), r.getString(2))
        if (f == StateTable.TtlField)
          expiries.update(k, v.toLong)
        else if (f == StateTable.OwnerField)
          owners.update(k, v)
        else if (f.startsWith(StateTable.ListField))
          listAcc.getOrElseUpdate(k, new ArrayBuffer) += (f -> v)
        else {
          val e = entryFor(k)
          e.hash = (if (e.hash == null) Map.empty[String, String] else e.hash) + (f -> v)
        }
      }
      listAcc.foreach { case (k, elems) =>
        entryFor(k).list = elems.sortBy(_._1).map(_._2).toVector
      }
      // recency restarts from the restored snapshot (every entry is
      // fresh, stamp 0); byte accounting rebuilds from ground truth under
      // the snapshot's __owner__ attribution, so E11 counters read
      // identically after a save/load round-trip (pre-round-12 snapshots
      // carry no owners — keys start unowned)
      touchSeq = 0L
      ownerBytes.clear()
      usedBytesTotal = 0L
      owners.foreach { case (k, o) => Option(entries.get(k)).foreach(_.owner = o) }
      entries.forEach((k, e) => resize(k, e))
    } finally lock.unlock()
  }

  /** A key's value as a transaction leaves it: its hash and list (null
    * when absent); whether a write touched it, so the commit touches it
    * and re-attributes it to the writer; whether it was deleted on the
    * way, so its old entry goes with its owner; and whether its TTL was
    * cleared, by a SET, an HDEL of the hash's last field or a deletion.
    * Each flag is set AT THE MOMENT of its operation, so a transaction
    * that empties a key and recreates it still loses the old TTL, as
    * Redis clears a TTL with its key. */
  private final class Pending(var hash: Map[String, String], var list: Vector[String]) {
    var wrote = false
    var deleted = false
    var ttlCleared = false
  }

  /** A transaction: buffered writes + read-your-writes, flushed
    * atomically by [[commit]]. `guard(key, isWrite)` runs
    * before each operation (ACL hook; a no-op for [[commit]]);
    * `growGuard(key)` runs before each growing write only (memory-cap
    * hook — del/hdel/pops stay allowed over cap). */
  final class Txn private[core] (guard: (String, Boolean) => Unit, growGuard: String => Unit) {
    // each written key's pending value, in first-write order
    private val writes = scala.collection.mutable.LinkedHashMap.empty[String, Pending]
    private val events = new ArrayBuffer[KeyEvent]
    // whether a push ran, so the commit wakes blocked pops
    private[core] var pushed = false

    // the key's hash as reads see it: None when the key is absent, an
    // empty map for a list-only key (a first read touches, as hgetall does)
    private def current(key: String): Option[Map[String, String]] = writes.get(key) match {
      case Some(p) =>
        if (p.hash != null) Some(p.hash) else if (p.list != null) Some(Map.empty) else None
      case None => peek(key)
    }
    // a key is loaded once per transaction, after lazy expiry
    private def pending(key: String): Pending = writes.getOrElseUpdate(key, {
      expireIfDue(key)
      val e = entries.get(key)
      if (e == null) new Pending(null, null) else new Pending(e.hash, e.list)
    })
    private def written(key: String): Pending = { val p = pending(key); p.wrote = true; p }
    private def event(name: String, key: String): Unit =
      events += KeyEvent(name, key, System.currentTimeMillis(), None)
    // a key left without a hash and a list is deleted, and its TTL with it
    private def dropIfEmpty(p: Pending): Unit =
      if (p.hash == null && p.list == null) { p.deleted = true; p.ttlCleared = true }

    def get(key: String): Option[String] = { guard(key, false); current(key).flatMap(_.get(ValueField)) }
    def hget(key: String, field: String): Option[String] = { guard(key, false); current(key).flatMap(_.get(field)) }
    def hgetall(key: String): Map[String, String] = { guard(key, false); current(key).getOrElse(Map.empty) }
    def exists(key: String): Boolean = { guard(key, false); current(key).isDefined }

    def set(key: String, value: String): Unit = {
      guard(key, true); growGuard(key)
      val p = written(key)
      p.hash = Map(ValueField -> value)
      p.ttlCleared = true
      event("set", key)
    }

    def hset(key: String, fields: (String, String)*): Unit = {
      guard(key, true); growGuard(key)
      val next = current(key).getOrElse(Map.empty) ++ fields
      written(key).hash = next
      event("hset", key)
    }

    /** DEL: remove the whole key, hash and list, with one event. */
    def del(key: String): Boolean = {
      guard(key, true)
      val existed = current(key).isDefined
      val p = pending(key)
      p.hash = null
      p.list = null
      dropIfEmpty(p)
      if (existed) event("del", key)
      existed
    }

    /** HDEL: remove fields from a hash; the key disappears when its
      * last value goes (Redis semantics). Returns #fields removed. */
    def hdel(key: String, fields: String*): Int = {
      guard(key, true)
      val cur = current(key).getOrElse(Map.empty)
      val removed = fields.count(cur.contains)
      if (removed > 0) {
        val next = cur -- fields
        if (next.nonEmpty) written(key).hash = next
        else {
          val p = pending(key)
          p.hash = null
          p.ttlCleared = true
          dropIfEmpty(p)
        }
        event("hdel", key)
      }
      removed
    }

    /** INCRBY. A result past the Long range is refused, as Redis
      * refuses it, before anything is buffered: the value stays as it
      * was and no event fires. */
    def incrBy(key: String, delta: Long): Long = {
      guard(key, true); growGuard(key)
      val cur = current(key).getOrElse(Map.empty)
      val next =
        try Math.addExact(cur.get(ValueField).map(_.toLong).getOrElse(0L), delta)
        catch { case _: ArithmeticException =>
          throw new ArithmeticException(s"increment or decrement would overflow ('$key')") }
      written(key).hash = cur + (ValueField -> next.toString)
      event("incrby", key)
      next
    }

    /** LPUSH: each value is pushed to the head in argument order (so the
      * last argument ends up first). Returns the new length. */
    def lpush(key: String, values: String*): Long =
      push(key, "lpush")(l => values.foldLeft(l)((acc, v) => v +: acc))

    /** RPUSH: append to the tail. Returns the new length. */
    def rpush(key: String, values: String*): Long = push(key, "rpush")(_ ++ values)

    private def push(key: String, name: String)(grow: Vector[String] => Vector[String]): Long = {
      guard(key, true); growGuard(key)
      val p = written(key)
      p.list = grow(if (p.list == null) Vector.empty else p.list)
      pushed = true
      event(name, key)
      p.list.size.toLong
    }

    def lpop(key: String): Option[String] = pop(key, head = true)
    def rpop(key: String): Option[String] = pop(key, head = false)

    /** LPOP/RPOP: the key disappears with its last value. */
    private def pop(key: String, head: Boolean): Option[String] = {
      guard(key, true)
      val p = pending(key)
      val l = p.list
      if (l == null || l.isEmpty) None
      else {
        val rest = if (head) l.tail else l.init
        p.list = if (rest.isEmpty) null else rest
        dropIfEmpty(p)
        event(if (head) "lpop" else "rpop", key)
        Some(if (head) l.head else l.last)
      }
    }

    /** Land the pending values: a key deleted on the way loses its old
      * entry (bytes, owner, TTL); a written key is touched and
      * re-attributed to the writer, which pops and deletions never do. */
    private[core] def flush(): Seq[KeyEvent] = {
      writes.foreach { case (key, p) =>
        if (p.deleted) { val old = entries.get(key); if (old != null) unlink(key, old) }
        if (p.ttlCleared && expiries.nonEmpty) expiries.remove(key)
        if (p.hash != null || p.list != null) {
          val e = entryFor(key)
          e.hash = p.hash
          e.list = p.list
          if (p.wrote) touch(e)
          resize(key, e, write = p.wrote)
        }
      }
      events.toSeq
    }
  }
}

object StateTable {
  /** Field name used for plain string values. */
  val ValueField = "__value"
  /** Pseudo-field prefix for snapshotted list elements. */
  val ListField = "__list__"
  /** Pseudo-field for a key's snapshotted absolute expiry (epoch ms). */
  val TtlField = "__ttl__"
  /** Pseudo-field for a key's snapshotted library attribution (E11). */
  val OwnerField = "__owner__"

  /** One live key: its hash and list (either may be null, not both),
    * the `touchSeq` of its last touch, its byte footprint and its owning
    * library (null = unattributed). Accessed only under the lock. */
  private final class Entry {
    var hash: Map[String, String] = null
    var list: Vector[String] = null
    var stamp = 0L
    var bytes = 0L
    var owner: String = null
  }

  /** Lossless byte<->String bridge (ISO-8859-1 maps byte n to char n). */
  private[core] def b2s(b: Array[Byte]): String =
    new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
  private[core] def s2b(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)

  private[core] val NoGuard: (String, Boolean) => Unit = (_, _) => ()
  private[core] val NoGrowGuard: String => Unit = _ => ()
}
