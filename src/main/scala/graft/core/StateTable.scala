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
  * reference's tests exercise, and/or a list. All mutation goes through
  * a single commit path under one lock, giving the reference's
  * sync-execution atomicity (E8: sync functions run under the Redis GIL,
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
  def getMaxKeys: Int = maxKeys

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

  /** After a value of `e` shrank or was cleared: drop the key once it
    * holds neither a hash nor a list, else re-measure it. */
  private def shrunk(key: String, e: Entry): Unit =
    if (e.hash == null && e.list == null) unlink(key, e) else resize(key, e)

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
    * (set/hset/incrBy) but not before del/hdel — so a memory-cap guard
    * denies growth while leaving the freeing path open (DENYOOM
    * semantics: memory-freeing commands stay allowed over cap). */
  def commitGuarded[A](guard: (String, Boolean) => Unit,
      growGuard: String => Unit = StateTable.NoGrowGuard)(body: Txn => A): A = {
    lock.lock()
    try {
      val txn = new Txn(this, guard, growGuard)
      val result = body(txn)
      val events = txn.flush()
      // Redis semantics: a plain SET discards the key's TTL; HSET and
      // INCR leave it in place; DELETION always clears the TTL (else a
      // key re-created later under the same name would inherit the old
      // deadline and be spuriously expired) — including an HDEL that
      // removed the hash's last field. The clear is decided AT THE
      // MOMENT of the operation (the Txn records it in event order),
      // not from post-flush state: a transaction that hdel-empties a
      // key and then recreates it must still lose the old TTL, exactly
      // as Redis clears it when the key is deleted.
      if (expiries.nonEmpty) txn.ttlCleared.foreach(expiries.remove)
      // cap enforcement happens after the transaction's writes land, and
      // its "evicted" events dispatch in order behind the write events
      val evictions = enforceCap()
      if (!inNotification.get()) {
        inNotification.set(true)
        try (events ++ evictions).foreach(e => subscribers.foreach(_(e)))
        finally inNotification.set(false)
      }
      result
    } finally lock.unlock()
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
          emit(KeyEvent("expired", key, System.currentTimeMillis(), None))
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
  private[core] def peek(key: String): Option[Map[String, String]] = withLock {
    expireIfDue(key)
    val e = entries.get(key)
    if (e == null) None
    else if (e.hash == null) Some(Map.empty)
    else { if (e.hash.nonEmpty) touch(e); Some(e.hash) }
  }

  // --- convenience single-op writes (each is its own transaction) ---
  def set(key: String, value: String): Unit = commit(_.set(key, value))
  def hset(key: String, fields: (String, String)*): Unit = commit(_.hset(key, fields: _*))
  def del(key: String): Boolean = withLock {
    expiries.remove(key)
    val e = entries.get(key)
    val hadList = e != null && e.list != null
    if (hadList) {
      e.list = null
      shrunk(key, e)
      emit(KeyEvent("del", key, System.currentTimeMillis(), None))
    }
    commit(_.del(key)) || hadList
  }
  def incrBy(key: String, delta: Long): Long = commit(_.incrBy(key, delta))
  def hdel(key: String, fields: String*): Int = commit(_.hdel(key, fields: _*))

  // --- list operations (Redis list type; LPUSH/RPUSH/LPOP/RPOP
  // semantics) + blocking pop (C3 `callAsync` blocking commands).
  // Blocking is refused while the current thread holds the state lock —
  // i.e. inside a sync call or an atomic section — which is exactly the
  // reference's `isBlockAllowed() == false` inside MULTI/EXEC (C4,
  // `run_ctx.rs:197-199`).

  private def emit(e: KeyEvent): Unit =
    if (!inNotification.get()) {
      inNotification.set(true)
      try subscribers.foreach(_(e))
      finally inNotification.set(false)
    }

  private def push(key: String, event: String)(grow: Vector[String] => Vector[String]): Long =
    withLock {
      val e = entryFor(key)
      val next = grow(if (e.list == null) Vector.empty else e.list)
      e.list = next
      touch(e)
      resize(key, e, write = true)
      listSignal.signalAll()
      emit(KeyEvent(event, key, System.currentTimeMillis(), None))
      enforceCap().foreach(emit)
      next.size.toLong
    }

  /** LPUSH: each value is pushed to the head in argument order (so the
    * last argument ends up first). Returns the new length. */
  def lpush(key: String, values: String*): Long =
    push(key, "lpush")(l => values.foldLeft(l)((acc, v) => v +: acc))

  /** RPUSH: append to the tail. Returns the new length. */
  def rpush(key: String, values: String*): Long = push(key, "rpush")(_ ++ values)

  private def listOf(key: String): Vector[String] = {
    val e = entries.get(key)
    if (e == null || e.list == null) Vector.empty else e.list
  }

  private def pop(key: String, head: Boolean): Option[String] = {
    val l = listOf(key)
    if (l.isEmpty) None
    else {
      val e = entries.get(key)
      val (v, rest) = if (head) (l.head, l.tail) else (l.last, l.init)
      e.list = if (rest.isEmpty) null else rest
      shrunk(key, e)
      emit(KeyEvent(if (head) "lpop" else "rpop", key, System.currentTimeMillis(), None))
      Some(v)
    }
  }

  def lpop(key: String): Option[String] = withLock(pop(key, head = true))
  def rpop(key: String): Option[String] = withLock(pop(key, head = false))
  def llen(key: String): Long = withLock(listOf(key).size.toLong)
  def lrange(key: String): Seq[String] = withLock(listOf(key))

  /** BLPOP: block until the list is non-empty or the timeout expires.
    * Refused while the caller holds the state lock (C4). */
  def blpop(key: String, timeoutMs: Long): Option[String] = {
    if (lock.isHeldByCurrentThread)
      throw new IllegalStateException(
        "blocking pop inside a sync call or atomic section (isBlockAllowed=false, C4)")
    lock.lock()
    try {
      var out = pop(key, head = true)
      var remaining = java.util.concurrent.TimeUnit.MILLISECONDS.toNanos(timeoutMs)
      while (out.isEmpty && remaining > 0) {
        remaining = listSignal.awaitNanos(remaining)
        out = pop(key, head = true)
      }
      out
    } finally lock.unlock()
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

  private[core] def applyWrite(key: String, fields: Map[String, String]): Unit = {
    val e = entryFor(key)
    e.hash = fields
    touch(e)
    resize(key, e, write = true)
  }
  private[core] def applyDel(key: String): Unit = {
    val e = entries.get(key)
    if (e != null && e.hash != null) { e.hash = null; shrunk(key, e) }
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

  /** A transaction: buffered writes + read-your-writes, flushed
    * atomically by [[StateTable.commit]]. `guard(key, isWrite)` runs
    * before each operation (ACL hook; no-op by default);
    * `growGuard(key)` runs before each growing write only (memory-cap
    * hook — del/hdel stay allowed over cap). */
  final class Txn private[core] (table: StateTable,
      guard: (String, Boolean) => Unit = NoGuard,
      growGuard: String => Unit = NoGrowGuard) {
    private val writes = scala.collection.mutable.LinkedHashMap.empty[String, Option[Map[String, String]]]
    private val events = new ArrayBuffer[KeyEvent]
    // keys whose TTL must be cleared at commit — recorded when the
    // clearing operation HAPPENS (set/del/last-field hdel), so later
    // recreation inside the same transaction cannot resurrect the TTL
    private val ttlClears = scala.collection.mutable.LinkedHashSet.empty[String]
    private[core] def ttlCleared: Iterable[String] = ttlClears

    private def current(key: String): Option[Map[String, String]] =
      writes.getOrElse(key, table.peek(key))

    def get(key: String): Option[String] = { guard(key, false); current(key).flatMap(_.get(ValueField)) }
    def hget(key: String, field: String): Option[String] = { guard(key, false); current(key).flatMap(_.get(field)) }
    def hgetall(key: String): Map[String, String] = { guard(key, false); current(key).getOrElse(Map.empty) }
    def exists(key: String): Boolean = { guard(key, false); current(key).isDefined }

    def set(key: String, value: String): Unit = {
      guard(key, true); growGuard(key)
      writes.update(key, Some(Map(ValueField -> value)))
      ttlClears += key // SET discards the key's TTL
      events += KeyEvent("set", key, System.currentTimeMillis(), None)
    }

    def hset(key: String, fields: (String, String)*): Unit = {
      guard(key, true); growGuard(key)
      writes.update(key, Some(current(key).getOrElse(Map.empty) ++ fields))
      events += KeyEvent("hset", key, System.currentTimeMillis(), None)
    }

    def del(key: String): Boolean = {
      guard(key, true)
      val existed = current(key).isDefined
      writes.update(key, None)
      ttlClears += key // deletion clears the TTL at the moment it happens
      if (existed) events += KeyEvent("del", key, System.currentTimeMillis(), None)
      existed
    }

    /** HDEL: remove fields from a hash; the key disappears when its
      * last field goes (Redis semantics). Returns #fields removed. */
    def hdel(key: String, fields: String*): Int = {
      guard(key, true)
      val cur = current(key).getOrElse(Map.empty)
      val removed = fields.count(cur.contains)
      if (removed > 0) {
        val next = cur -- fields
        writes.update(key, if (next.isEmpty) None else Some(next))
        // an HDEL that removes the hash's last field deletes the key —
        // and with it the TTL, even if the key is recreated later in
        // this same transaction
        if (next.isEmpty) ttlClears += key
        events += KeyEvent("hdel", key, System.currentTimeMillis(), None)
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
      writes.update(key, Some(cur + (ValueField -> next.toString)))
      events += KeyEvent("incrby", key, System.currentTimeMillis(), None)
      next
    }

    private[core] def flush(): Seq[KeyEvent] = {
      writes.foreach {
        case (k, Some(m)) => table.applyWrite(k, m)
        case (k, None) => table.applyDel(k)
      }
      events.toSeq
    }
  }
}
