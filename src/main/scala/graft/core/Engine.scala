package graft.core

import java.util.concurrent.{ExecutorService, Executors, TimeUnit}
import scala.collection.concurrent.TrieMap
import scala.concurrent.{ExecutionContext, Future}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.RespValue._
import graft.streaming.{KeySpaceTriggerEngine, StreamTriggerEngine}

/** Function flags (C13) — names and semantics from
  * `/root/reference/redisgears_plugin_api/src/redisgears_plugin_api/load_library_ctx.rs:19-26`. */
object FunctionFlags {
  /** Function performs no writes: may run read-only / under OOM. */
  val NoWrites = "no-writes"
  /** Function may run even when the engine is out of memory. */
  val AllowOom = "allow-oom"
  /** Arguments passed as raw binary (no UTF-8 validation). */
  val RawArguments = "raw-arguments"
  val All: Set[String] = Set(NoWrites, AllowOom, RawArguments)
}

/** Stream-trigger error policy (E4/E7). The reference records
  * `last_error` and keeps consuming (`stream_reader.rs:299-453`);
  * across a crash it replays from the last *acked* id
  * (`rdb.rs:52-91`). Spark's micro-batch commit makes both available:
  *  - [[ErrorPolicy.Retry]] (default): a failing record halts its
  *    stream for the rest of the batch (the checkpoint never advances
  *    past an unacked record) and the batch is failed, so the source
  *    replays it — at-least-once for the failed record, with durable
  *    acks deduping everything already processed;
  *  - [[ErrorPolicy.Ack]]: record the error in stats and advance the
  *    checkpoint anyway (skip the poison record) — the reference's
  *    keep-consuming behavior. */
sealed trait ErrorPolicy
object ErrorPolicy {
  case object Retry extends ErrorPolicy
  case object Ack extends ErrorPolicy
}

/** Raised by the stream-trigger engine when one or more records failed
  * under [[ErrorPolicy.Retry]] — fails the enclosing micro-batch so
  * Structured Streaming does not commit past the unacked records. */
final class StreamDeliveryException(val failures: Seq[String])
  extends RuntimeException(s"stream delivery failed for ${failures.size} record(s): ${failures.mkString("; ")}")

/** The "client" handed to a running function (C1-C8): state access +
  * the SparkSession for relational work. Write methods throw for
  * functions declared [[FunctionFlags.NoWrites]] — the reference's
  * replica/OOM write gating (E13, `lib.rs:1293-1313`). */
final class FunctionContext private[core] (
    val engine: Engine, val library: String, val readOnly: Boolean,
    // Some((shardId, shardCount)) for cluster-function invocations
    // (C7/C8): the context sees only its virtual shard's keyspace —
    // foreign keys raise [[ShardMovedException]] (on a real cluster
    // they are simply not on this node)
    private[core] val shardScope: Option[(Int, Int)] = None) {
  def spark: SparkSession = engine.spark
  def state: StateTable = engine.state

  // E10: set by the lock watchdog when this invocation exceeds
  // `lock-timeout`; every state access checkpoints it (the analogue of
  // V8 terminating at the next interpreter checkpoint). Partial writes
  // already executed persist — the reference has no rollback either
  // (a killed JS function's completed Redis commands stand).
  private[core] val abortFlag = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def checkAborted(): Unit =
    if (abortFlag.get()) throw new FunctionAbortedException(
      s"function in library '$library' exceeded lock-timeout " +
        s"(${engine.configGet("lock-timeout")} ms) and was aborted")

  private def requireWrites(): Unit =
    if (readOnly) throw new IllegalStateException(
      s"function declared ${FunctionFlags.NoWrites} attempted a write")

  // every key access passes one guard: the abort checkpoint, the shard
  // scope and the library's owning ACL user, resolved at call time
  // (lib.rs:506-517; revocation applies immediately)
  private def guard(key: String, isWrite: Boolean): Unit = {
    checkAborted()
    shardScope.foreach { case (id, n) =>
      val owner = Engine.shardOf(key, n)
      if (owner != id) throw new ShardMovedException(
        s"MOVED: key '$key' hashes to shard $owner, this context is shard $id of $n")
    }
    engine.aclCheck(library, key, isWrite)
  }
  private def canRead(key: String): Boolean =
    try { guard(key, false); true }
    catch { case _: AclException | _: ShardMovedException => false }

  def get(key: String): Option[String] = { guard(key, false); engine.state.get(key) }
  def hget(key: String, field: String): Option[String] = { guard(key, false); engine.state.hget(key, field) }
  def hgetall(key: String): Map[String, String] = { guard(key, false); engine.state.hgetall(key) }
  // scan filters out names the user may not read: even key NAMES under
  // a denied prefix are information (raw Redis SCAN would return them,
  // but this engine's prefix-rule model can and does hide them)
  def scan(prefix: String): Seq[String] = {
    checkAborted(); engine.state.scan(prefix).filter(canRead)
  }
  def set(key: String, value: String): Unit = atomic(_.set(key, value))
  def hset(key: String, fields: (String, String)*): Unit = atomic(_.hset(key, fields: _*))
  def del(key: String): Boolean = atomic(_.del(key))
  def hdel(key: String, fields: String*): Int = atomic(_.hdel(key, fields: _*))
  def incrBy(key: String, delta: Long): Long = atomic(_.incrBy(key, delta))
  // C3 list ops + blocking pop. blpop blocks the calling thread until
  // data arrives or the timeout passes; it is refused inside a sync
  // call or atomic section (C4 isBlockAllowed) — call it from an async
  // function or an executeAsync body, like the reference's callAsync
  // for blocking commands (`v8_native_functions.rs:652-669`).
  def lpush(key: String, values: String*): Long = atomic(_.lpush(key, values: _*))
  def rpush(key: String, values: String*): Long = atomic(_.rpush(key, values: _*))
  def lpop(key: String): Option[String] = atomic(_.lpop(key))
  def rpop(key: String): Option[String] = atomic(_.rpop(key))
  def llen(key: String): Long = { guard(key, false); engine.state.llen(key) }
  def blpop(key: String, timeoutMs: Long): Option[String] = {
    requireWrites(); guard(key, true); engine.state.blpop(key, timeoutMs)
  }
  /** C4: whether a blocking call may run on this thread. */
  def isBlockAllowed: Boolean = engine.state.isBlockAllowed
  // TTL (EXPIRE/TTL; lazy expiration fires the `expired` keyspace
  // event the reference's R4 triggers subscribe to)
  def expire(key: String, ttlMs: Long): Boolean = { requireWrites(); guard(key, true); engine.state.expire(key, ttlMs) }
  def ttl(key: String): Option[Long] = { guard(key, false); engine.state.ttl(key) }
  // C2 binary-safe access (callRaw analogue)
  def getRaw(key: String): Option[Array[Byte]] = get(key).map(StateTable.s2b)
  def hgetRaw(key: String, field: String): Option[Array[Byte]] = hget(key, field).map(StateTable.s2b)
  def setRaw(key: String, value: Array[Byte]): Unit = set(key, StateTable.b2s(value))
  def hsetRaw(key: String, fields: (String, Array[Byte])*): Unit =
    hset(key, fields.map { case (f, v) => f -> StateTable.b2s(v) }: _*)
  /** Per-library config injected at load (C10). */
  def config: Map[String, String] = engine.libraryConfig(library)
  def log(msg: String): Unit = engine.log(s"[$library] $msg")

  /** C6 (`asyncClient.block`): run `body` as ONE atomic state
    * transaction — the legal write path that groups multiple writes
    * into a single atomically-visible commit from a background/async
    * function (the reference acquires the GIL and wraps effects in
    * MULTI/EXEC, `v8_native_functions.rs:264-312`). Concurrent readers
    * observe either none or all of the transaction's writes, never a
    * partial state. Hash, string and list writes are all allowed inside,
    * as Redis MULTI allows LPUSH/LPOP; a blocking pop is not (C4). The
    * context's own write methods are one-op atomic sections. */
  def atomic[T](body: StateTable#Txn => T): T = {
    requireWrites()
    // E11: the footprint cap gates each GROWING op inside the txn (the
    // growGuard below), not the transaction at entry — so an over-cap
    // library can still run a shrink-only transaction (del/hdel/pops) to
    // recover, matching the DENYOOM exemption for memory-freeing
    // commands. A growing txn may overshoot by one op, like a single
    // Redis command past maxmemory; the cap catches the next one. The
    // thread-local writer scope spans the flush, so the txn's writes
    // attribute to this library (last-writer accounting).
    val ws = engine.state.writerScope
    val prev = ws.get()
    ws.set(library)
    try engine.state.commitGuarded(guard, _ => engine.memCheck(library))(body)
    finally { if (prev == null) ws.remove() else ws.set(prev) }
  }

  /** C5 (`client.executeAsync`): escape from a sync function to the
    * background pool mid-invocation (`v8_native_functions.rs:694-763`).
    * Returns a [[RespValue.RespPromise]]; a sync function returning it
    * releases the state lock immediately (its sync writes commit), and
    * the engine replies with the promise's resolution — the reference's
    * blocked-client pattern. The background body must use [[atomic]]
    * for grouped writes; if it touches state while the sync part is
    * still committing it blocks on the state lock, exactly like the
    * reference's background task waiting for the GIL. */
  def executeAsync(body: FunctionContext => RespValue): RespValue =
    engine.scheduleAsync(library, readOnly, body)

  /** Run a registered cluster function for a specific key (C7
    * `runOnKey`): the invocation is ROUTED to the key's virtual shard —
    * the context it receives sees that shard's keyspace only, exactly
    * like the reference's libmr record routed to the key's slot owner.
    * The routing key rides in front of the caller's args. */
  def runOnKey(key: String, remoteFn: String, args: RespValue*): RespValue = {
    val n = engine.shardCount
    engine.runClusterFunction(library, remoteFn, RespString(key) +: args.toSeq,
      scope = Some((Engine.shardOf(key, n), n)))
  }

  /** Run a registered cluster function on EVERY virtual shard (C8
    * `runOnShards`) and gather one result per shard. Each invocation's
    * context is scoped to its shard (its `scan` sees only shard-local
    * keys; foreign keys raise MOVED), so the fan-out/gather contract
    * matches the reference's libmr run-on-all-shards: N partial views,
    * caller combines. `shard-count` config sets N (the engine is one
    * process, so shards are a data-partitioning contract, not separate
    * failure domains). */
  def runOnShards(remoteFn: String, args: RespValue*): Seq[RespValue] = {
    val n = engine.shardCount
    (0 until n).map(id =>
      engine.runClusterFunction(library, remoteFn, args.toSeq, scope = Some((id, n))))
  }
}

/** Collected registrations of one library — what the reference gathers
  * while evaluating library code at load time
  * (`GearsLibraryCtx`, `redisgears_core/src/lib.rs:243-254`). */
final class LibraryBuilder private[core] (val name: String) {
  import LibraryBuilder._
  private[core] val functions = TrieMap.empty[String, FunctionDef]
  private[core] val streamTriggers = TrieMap.empty[String, StreamTriggerDef]
  private[core] val keySpaceTriggers = TrieMap.empty[String, KeySpaceTriggerDef]
  private[core] val clusterFunctions = TrieMap.empty[String, ClusterFunctionDef]

  private def checkName(n: String, kind: String): Unit = {
    if (!Engine.validName(n))
      throw new IllegalArgumentException(s"invalid $kind name '$n' (allowed: [A-Za-z0-9_])")
    if (functions.contains(n) || streamTriggers.contains(n) ||
        keySpaceTriggers.contains(n) || clusterFunctions.contains(n))
      throw new IllegalArgumentException(s"$kind '$n' already registered in library '$name'")
  }

  /** R1: sync function callable via `Engine.call` — atomic w.r.t. the
    * state table. */
  def registerFunction(fnName: String, fn: (FunctionContext, Seq[RespValue]) => RespValue,
      flags: Set[String] = Set.empty, description: String = ""): Unit = {
    checkName(fnName, "function")
    val bad = flags.diff(FunctionFlags.All)
    if (bad.nonEmpty) throw new IllegalArgumentException(s"unknown flags: $bad")
    functions.put(fnName, FunctionDef(fnName, fn, flags, description, isAsync = false))
  }

  /** R2: async function callable via `Engine.callAsync` — runs on the
    * engine's background pool (E9). */
  def registerAsyncFunction(fnName: String, fn: (FunctionContext, Seq[RespValue]) => RespValue,
      flags: Set[String] = Set.empty, description: String = ""): Unit = {
    checkName(fnName, "function")
    val bad = flags.diff(FunctionFlags.All)
    if (bad.nonEmpty) throw new IllegalArgumentException(s"unknown flags: $bad")
    functions.put(fnName, FunctionDef(fnName, fn, flags, description, isAsync = true))
  }

  /** R3: continuous consumer over streams matching `prefix`; `window`
    * is max in-flight records per stream; `isStreamTrimmed` requests
    * consumed-prefix trimming. */
  def registerStreamTrigger(trigger: String, prefix: String,
      fn: (FunctionContext, StreamRecord) => Unit,
      window: Int = 1, isStreamTrimmed: Boolean = false,
      description: String = "", onError: ErrorPolicy = ErrorPolicy.Retry): Unit = {
    checkName(trigger, "stream trigger")
    if (window < 1) throw new IllegalArgumentException("window must be >= 1")
    streamTriggers.put(trigger,
      StreamTriggerDef(trigger, prefix, fn, window, isStreamTrimmed, description, onError))
  }

  /** R4: CDC-style trigger on keyspace events for keys matching
    * `prefix`; `onTriggerFired` runs synchronously at notification time
    * to snapshot data into the event. */
  /** R4: keyspace trigger. `eventTypes` is the reference's event-class
    * mask (`keys_notifications.rs:191-208`): empty = fire on every
    * class; otherwise only the named classes fire — write events
    * ("set"/"hset"/"del"/"incrby"/"lpush"/…), "expired" (TTL), and
    * "evicted" (max-keys cap pressure). */
  def registerKeySpaceTrigger(trigger: String, prefix: String,
      fn: (FunctionContext, KeyEvent) => Unit,
      onTriggerFired: Option[(FunctionContext, KeyEvent) => Map[String, String]] = None,
      description: String = "",
      eventTypes: Set[String] = Set.empty): Unit = {
    checkName(trigger, "keyspace trigger")
    keySpaceTriggers.put(trigger,
      KeySpaceTriggerDef(trigger, prefix, fn, onTriggerFired, description, eventTypes))
  }

  /** R5: remote/cluster function — read-only by contract
    * (`v8_native_functions.rs:1297-1404`). */
  def registerClusterFunction(fnName: String,
      fn: (FunctionContext, Seq[RespValue]) => RespValue): Unit = {
    checkName(fnName, "cluster function")
    clusterFunctions.put(fnName, ClusterFunctionDef(fnName, fn))
  }

  private[core] def isEmpty: Boolean =
    functions.isEmpty && streamTriggers.isEmpty &&
      keySpaceTriggers.isEmpty && clusterFunctions.isEmpty
}

object LibraryBuilder {
  case class FunctionDef(name: String,
      fn: (FunctionContext, Seq[RespValue]) => RespValue,
      flags: Set[String], description: String, isAsync: Boolean)
  case class StreamTriggerDef(name: String, prefix: String,
      fn: (FunctionContext, StreamRecord) => Unit,
      window: Int, isStreamTrimmed: Boolean, description: String,
      onError: ErrorPolicy = ErrorPolicy.Retry)
  case class KeySpaceTriggerDef(name: String, prefix: String,
      fn: (FunctionContext, KeyEvent) => Unit,
      onTriggerFired: Option[(FunctionContext, KeyEvent) => Map[String, String]],
      description: String,
      // empty = all event classes (the reference's default mask)
      eventTypes: Set[String] = Set.empty)
  case class ClusterFunctionDef(name: String,
      fn: (FunctionContext, Seq[RespValue]) => RespValue)
}

/** A library's registration code in RECOVERABLE form — the JVM
  * analogue of the reference's JS source blob: the reference RDB-saves
  * each library's source and re-evaluates it at load
  * (`redisgears_core/src/rdb.rs:52-91`), which works because JS code
  * is text. A Scala closure has no recoverable text form, so the
  * persistable unit here is a NAMED code object: implement this trait
  * as a top-level `object` (or a no-arg class) and the engine can
  * re-evaluate it after a restart by class name alone
  * ([[Engine.loadState]]), giving the same save → restart → TFCALL
  * round-trip the reference gets from re-running the stored source. */
trait LibraryCode {
  def register(b: LibraryBuilder): Unit
}

/** A library definition: name + api version + the registration code
  * (the Scala analogue of the JS source blob with its `#!js name=…
  * api_version=…` prologue, `prologue.rs:16-83`). `source` is an
  * optional human-readable description or source listing surfaced by
  * `list(withCode = true)` — the TFUNCTION LIST WITHCODE analogue.
  * `codeRef` is the fully-qualified class name of a [[LibraryCode]]
  * when the code has one (set automatically by
  * [[LibraryDefinition.of]]); it is what makes the library
  * catalog-persistable — an anonymous closure (`codeRef = None`)
  * loads fine but cannot be restored by [[Engine.loadState]]. */
case class LibraryDefinition(name: String, apiVersion: String = "1.0",
    code: LibraryBuilder => Unit, source: Option[String] = None,
    user: String = Acl.DefaultUser, codeRef: Option[String] = None)

object LibraryDefinition {
  /** Build a definition from a named [[LibraryCode]], capturing its
    * class name as the catalog-persistable `codeRef`. */
  def of(name: String, code: LibraryCode, apiVersion: String = "1.0",
      source: Option[String] = None,
      user: String = Acl.DefaultUser): LibraryDefinition =
    LibraryDefinition(name, apiVersion, code.register _, source, user,
      Some(code.getClass.getName))
}

/** The engine façade (E14-E17): library load/upgrade/delete with
  * revert-on-failure, sync/async invocation, cluster functions, and
  * introspection. Owns the [[StateTable]] and the trigger engines. */
final class Engine(val spark: SparkSession,
    executionThreads: Int = 1,
    private[graft] val checkpointDir: Option[String] = None) extends AutoCloseable {
  import LibraryBuilder._
  require(executionThreads >= 1 && executionThreads <= 32,
    "execution-threads must be in [1,32]") // config range, lib.rs:1912

  // the driver test data's events table is parquet TIMESTAMP(NANOS),
  // which Spark only reads with this legacy conf; set it engine-wide so
  // library code can read any test table directly
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  val state = new StateTable
  /** E5 analogue: durable per-(consumer, stream) ack store; None = the
    * reference running without RDB persistence (volatile checkpoints). */
  private[graft] val checkpointStore: Option[graft.streaming.CheckpointStore] =
    checkpointDir.map(d => new graft.streaming.CheckpointStore(d, spark.sparkContext.hadoopConfiguration))
  val streams = new StreamTriggerEngine(this)
  val keyspace = new KeySpaceTriggerEngine(this)

  private val libraries = TrieMap.empty[String, LoadedLibrary]
  // E9: background pool for async functions, size = execution-threads
  private val pool: ExecutorService = Executors.newFixedThreadPool(executionThreads)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)

  private case class LoadedLibrary(builder: LibraryBuilder, apiVersion: String,
      config: Map[String, String], source: Option[String] = None,
      user: String = Acl.DefaultUser, codeRef: Option[String] = None) {
    val fnStats = TrieMap.empty[String, FunctionStats]
    def statsFor(fn: String): FunctionStats = fnStats.getOrElseUpdate(fn, new FunctionStats)
  }

  // --- ACL users (per-library key permissions; see [[Acl]]) -----------
  private val aclUsers = TrieMap[String, Seq[AclRule]](Acl.DefaultUser -> Acl.AllAccess)

  /** Create or replace an ACL user with its prefix rules. */
  def aclSetUser(name: String, rules: Seq[AclRule]): Unit = {
    if (!Engine.validName(name))
      throw new IllegalArgumentException(s"invalid ACL user name '$name'")
    aclUsers.put(name, rules)
  }

  /** Revoke a user — libraries loaded as it lose all key access at
    * their NEXT access (the reference's user-deleted-while-running
    * behavior). The default user cannot be deleted. */
  def aclDelUser(name: String): Unit = {
    if (name == Acl.DefaultUser)
      throw new IllegalArgumentException("the default user cannot be deleted")
    if (aclUsers.remove(name).isEmpty)
      throw new NoSuchElementException(s"no such ACL user '$name'")
  }

  def aclGetUser(name: String): Option[Seq[AclRule]] = aclUsers.get(name)

  /** Check the library's owning user may touch `key`. Resolved at call
    * time so revocation takes effect immediately. A library that is no
    * longer loaded (deleted while one of its async functions or
    * promises was still in flight) is DENIED — falling back to the
    * all-access default user would escalate a dead library to full key
    * access. */
  private[graft] def aclCheck(lib: String, key: String, write: Boolean): Unit = {
    val user = libraries.get(lib).map(_.user).getOrElse(
      throw new AclException(
        s"library '$lib' is not loaded — key access denied (was it deleted mid-flight?)"))
    Acl.check(user, aclUsers.get(user), key, write)
  }

  /** The owning ACL user of a loaded library (None when not loaded). */
  private[graft] def libraryUser(lib: String): Option[String] =
    libraries.get(lib).map(_.user)

  // --- E11 memory accounting (see StateTable byte counters) ---------

  /** Total exact bytes in the state table. */
  def stateBytes: Long = state.usedBytes
  /** Bytes attributed to `lib` (last-writer attribution). */
  def libraryStateBytes(lib: String): Long = state.usedBytesBy(lib)

  /** Per-write check: a library over `library-max-state-bytes` has
    * further writes denied until its footprint shrinks (the
    * per-library heap cap analogue — a hard limit, no flag bypasses
    * it, matching the reference's per-isolate cap). */
  private[core] def memCheck(lib: String): Unit = {
    val cap = engineConfig("library-max-state-bytes").toLong
    if (cap > 0) {
      val used = state.usedBytesBy(lib)
      if (used > cap) throw new OomException(
        s"library '$lib' holds $used bytes in state > library-max-state-bytes $cap — write denied")
    }
  }

  /** Per-invocation gate: over `max-state-bytes`, only functions
    * declaring allow-oom or no-writes may run (the reference rejects
    * the TFCALL upfront, lib.rs:1293-1313 — Redis's
    * "OOM command not allowed" for everything else). */
  private def oomCheck(lib: String, f: FunctionDef): Unit = {
    val max = engineConfig("max-state-bytes").toLong
    if (max > 0 && state.usedBytes > max &&
        !f.flags.contains(FunctionFlags.AllowOom) &&
        !f.flags.contains(FunctionFlags.NoWrites))
      throw new OomException(
        s"OOM: state holds ${state.usedBytes} bytes > max-state-bytes $max — " +
          s"'$lib.${f.name}' declares neither ${FunctionFlags.AllowOom} nor ${FunctionFlags.NoWrites}")
  }

  /** Snapshot of a user's current prefix rules (None = revoked). */
  private[graft] def aclRulesFor(user: String): Option[Seq[AclRule]] =
    aclUsers.get(user)

  private[core] final class FunctionStats {
    // LongAdder, not `@volatile var += 1`: concurrent callAsync
    // invocations of one function must not lose counts (E16 is a
    // tested introspection surface)
    val calls = new java.util.concurrent.atomic.LongAdder
    val errors = new java.util.concurrent.atomic.LongAdder
    @volatile var lastError: Option[String] = None
  }

  // --- engine-level config (E17 TCONFIG_GET/SET analogue) -------------
  private val engineConfig = TrieMap[String, String](
    // terse = Throwable.toString; verbose = full stack trace in every
    // surfaced error (the reference's verbose error reporting,
    // pytests/test_verbose_error_reporting.py)
    "error-verbosity" -> "terse",
    // bound on runOnKey/runOnShards cluster-function execution — the
    // reference's `remote-task-default-timeout` (500 ms, lib.rs:1913)
    "remote-task-default-timeout" -> "500",
    // E10: sync-invocation watchdog — a registered function that holds
    // the state lock past this many ms is aborted (the reference's
    // `lock-redis-timeout`, 500 ms: enforcement v8_backend.rs:581-604,
    // policy v8_script_ctx.rs:92-135). 0 disables. The JVM analogue of
    // the reference's Abort policy: the watchdog flags the invocation
    // and interrupts its thread; the function dies at its next state
    // access (or blocking call). The reference's harder Kill policy
    // (terminate the V8 isolate) has no safe JVM analogue — closures
    // share the heap — so abort is the only policy.
    "lock-timeout" -> "500",
    // invocation tracing (the TFUNCTION LOAD ... DEBUG analogue at the
    // introspection level: the reference attaches a V8 inspector,
    // function_load_command.rs:288-351; step-debugging Scala closures
    // is the IDE's job, so the engine captures per-invocation records
    // instead). 0 = off; N = keep the last N invocations engine-wide.
    "trace-buffer-size" -> "0",
    // virtual shard count for cluster functions (C7/C8): runOnShards
    // fans out one scoped invocation per shard; runOnKey routes to the
    // key's shard (Redis cluster CRC16 slots, contiguous ranges)
    "shard-count" -> "4",
    // state-table eviction cap (the Redis maxmemory analogue, as a key
    // count): past the cap, least-recently-touched keys are evicted and
    // fire the "evicted" keyspace event class (R4,
    // keys_notifications.rs:191-208). 0 = unbounded (default).
    "max-keys" -> "0",
    // E11/E13 memory caps, both 0 = unbounded (default). max-state-bytes
    // is the Redis maxmemory analogue under the NOEVICTION policy:
    // once the state table holds more bytes, invoking a function that
    // declares neither allow-oom nor no-writes raises OomException
    // (the reference's OOM call gating, lib.rs:1293-1313).
    // library-max-state-bytes is the per-library V8 heap cap analogue
    // (v8_backend.rs:305-393): a library whose last-writer-attributed
    // state footprint exceeds it has every FURTHER write denied,
    // regardless of flags, until its footprint shrinks.
    "max-state-bytes" -> "0",
    "library-max-state-bytes" -> "0")

  private[core] def shardCount: Int = engineConfig("shard-count").toInt

  def configSet(key: String, value: String): Unit = {
    key match {
      case "error-verbosity" =>
        if (!Set("terse", "verbose").contains(value))
          throw new IllegalArgumentException(
            s"error-verbosity must be terse|verbose, got '$value'")
      case "remote-task-default-timeout" =>
        if (scala.util.Try(value.toLong).toOption.forall(_ <= 0))
          throw new IllegalArgumentException(
            s"remote-task-default-timeout must be a positive ms count, got '$value'")
      case "lock-timeout" =>
        if (scala.util.Try(value.toLong).toOption.forall(_ < 0))
          throw new IllegalArgumentException(
            s"lock-timeout must be a non-negative ms count (0 disables), got '$value'")
      case "trace-buffer-size" =>
        if (scala.util.Try(value.toInt).toOption.forall(_ < 0))
          throw new IllegalArgumentException(
            s"trace-buffer-size must be a non-negative count, got '$value'")
      case "shard-count" =>
        if (scala.util.Try(value.toInt).toOption.forall(_ <= 0))
          throw new IllegalArgumentException(
            s"shard-count must be a positive count, got '$value'")
      case "max-keys" =>
        if (scala.util.Try(value.toInt).toOption.forall(_ < 0))
          throw new IllegalArgumentException(
            s"max-keys must be a non-negative count (0 = unbounded), got '$value'")
      case "max-state-bytes" | "library-max-state-bytes" =>
        if (scala.util.Try(value.toLong).toOption.forall(_ < 0))
          throw new IllegalArgumentException(
            s"$key must be a non-negative byte count (0 = unbounded), got '$value'")
      case other => throw new NoSuchElementException(s"unknown config key '$other'")
    }
    engineConfig.put(key, value)
    if (key == "lock-timeout") lockTimeoutCache.set(value.toLong)
    if (key == "max-keys") state.setMaxKeys(value.toInt)
  }

  def configGet(key: String): String = engineConfig.getOrElse(key,
    throw new NoSuchElementException(s"unknown config key '$key'"))

  /** Render an error per the error-verbosity config. */
  private[graft] def errorString(e: Throwable): String =
    if (engineConfig("error-verbosity") == "verbose") {
      val sw = new java.io.StringWriter
      e.printStackTrace(new java.io.PrintWriter(sw))
      sw.toString
    } else e.toString

  /** E14: load or upgrade a library. Evaluation failures and validation
    * failures leave the previous version fully in place (revert
    * semantics, `function_load_command.rs:141-167`); upgrades preserve
    * stream-consumer checkpoints and may not change a trigger's prefix
    * (`lib.rs:411-439`). */
  def load(definition: LibraryDefinition, replace: Boolean = false,
      config: Map[String, String] = Map.empty): Unit = synchronized {
    if (!Engine.validName(definition.name))
      throw new IllegalArgumentException(s"invalid library name '${definition.name}'")
    if (!Engine.SupportedApiVersions.contains(definition.apiVersion))
      throw new IllegalArgumentException(
        s"unsupported api_version '${definition.apiVersion}' (supported: ${Engine.SupportedApiVersions.mkString(", ")})")
    val existing = libraries.get(definition.name)
    if (existing.isDefined && !replace)
      throw new IllegalStateException(s"library '${definition.name}' already exists (use replace)")

    // evaluate registrations into a fresh builder; any throw = no-op load
    val builder = new LibraryBuilder(definition.name)
    definition.code(builder) // may throw — nothing registered yet
    if (builder.isEmpty)
      throw new IllegalArgumentException(
        s"library '${definition.name}' does not register any function or trigger")
    existing.foreach { old =>
      // upgrade constraint: a surviving stream trigger keeps its prefix
      builder.streamTriggers.foreach { case (tname, t) =>
        old.builder.streamTriggers.get(tname).foreach { oldT =>
          if (oldT.prefix != t.prefix)
            throw new IllegalArgumentException(
              s"upgrade cannot change stream trigger '$tname' prefix ('${oldT.prefix}' -> '${t.prefix}')")
        }
      }
    }
    // the loading user must exist (the reference refuses a load whose
    // user is unknown; the user is re-checked on every later key access)
    if (!aclUsers.contains(definition.user))
      throw new AclException(s"cannot load '${definition.name}': ACL user '${definition.user}' does not exist")
    // swap atomically; stream checkpoints survive by (library, trigger) key
    existing.foreach(old => detach(definition.name, old.builder, dropCheckpoints = false))
    libraries.put(definition.name,
      LoadedLibrary(builder, definition.apiVersion, config, definition.source,
        definition.user, definition.codeRef))
    attach(definition.name, builder)
    // triggers the new version did NOT re-register lose their stashed
    // checkpoints (reference removes consumers not re-registered)
    streams.purgeStash(definition.name)
  }

  /** Delete a library: unregister all its triggers and drop checkpoints. */
  def delete(name: String): Unit = synchronized {
    val lib = libraries.remove(name).getOrElse(
      throw new NoSuchElementException(s"no such library '$name'"))
    detach(name, lib.builder, dropCheckpoints = true)
  }

  private def attach(name: String, b: LibraryBuilder): Unit = {
    b.streamTriggers.values.foreach(t => streams.register(name, t))
    b.keySpaceTriggers.values.foreach(t => keyspace.register(name, t))
  }

  private def detach(name: String, b: LibraryBuilder, dropCheckpoints: Boolean): Unit = {
    b.streamTriggers.keys.foreach(t => streams.unregister(name, t, dropCheckpoints))
    b.keySpaceTriggers.keys.foreach(t => keyspace.unregister(name, t))
  }

  private def functionDef(lib: String, fn: String): (FunctionDef, LoadedLibrary) = {
    val l = libraries.getOrElse(lib, throw new NoSuchElementException(s"no such library '$lib'"))
    val f = l.builder.functions.getOrElse(fn,
      throw new NoSuchElementException(s"no such function '$lib.$fn'"))
    (f, l)
  }

  /** TFCALL (sync): runs atomically w.r.t. the state table — the whole
    * invocation is one state transaction (E8). A function that returns
    * a [[RespValue.RespPromise]] (via `ctx.executeAsync`) commits its
    * sync writes first, then the engine awaits the background
    * resolution outside the lock and replies with it (the reference's
    * blocked-client reply path, `run_ctx.rs:202-222`). The invocation
    * runs under the E10 lock watchdog: past `lock-timeout` ms it is
    * flagged and its thread interrupted, so a runaway closure dies at
    * its next state access (or blocking call) instead of wedging every
    * caller behind the state lock — the reference's GIL timeout
    * (`v8_backend.rs:581-604`). */
  def call(lib: String, fn: String, args: Seq[RespValue] = Seq.empty): RespValue = {
    val (f, l) = functionDef(lib, fn)
    if (f.isAsync) throw new IllegalStateException(
      s"'$lib.$fn' is async — use callAsync") // TFCALL on async fn is an error shape
    oomCheck(lib, f)
    val ctx = new FunctionContext(this, lib, f.flags.contains(FunctionFlags.NoWrites))
    val decoded = decodeArgs(f, args)
    recorded(lib, l, fn, isAsync = false) {
      // debug breakpoints pause HERE — at entry, before the state lock
      // and before the watchdog arms (a paused function blocks nothing)
      debugPause(lib, fn, decoded)
      // the watchdog arms INSIDE the commit body — i.e. once the state
      // lock is HELD. The reference's lock-redis-timeout measures GIL
      // hold time, not queueing: a healthy call that waits behind a
      // hung one must not burn its own deadline while blocked
      val out = state.commit(_ => withLockWatchdog(ctx) { f.fn(ctx, decoded) })
      val resolved = resolve(out)
      RespValue.validate(resolved).fold(e => throw new IllegalStateException(e), identity)
    }
  }

  // --- debug sessions (TFUNCTION DEBUG analogue; see [[DebugSession]]) --
  private val debugSessions = TrieMap.empty[String, DebugSession]

  /** Attach a live debug session to a loaded library — one at a time
    * per library, like one inspector connection. */
  def attachDebugSession(lib: String): DebugSession = {
    if (!libraries.contains(lib))
      throw new NoSuchElementException(s"no such library '$lib'")
    val s = new DebugSession(this, lib)
    if (debugSessions.putIfAbsent(lib, s).isDefined)
      throw new IllegalStateException(
        s"a debug session is already attached to '$lib'")
    s
  }

  private[core] def detachDebugSession(lib: String, s: DebugSession): Unit =
    debugSessions.remove(lib, s)

  private def debugPause(lib: String, fn: String, args: Seq[RespValue]): Unit =
    if (debugSessions.nonEmpty) // fast path: no session, no map lookup
      debugSessions.get(lib).foreach(_.maybePause(fn, args))

  // E10 watchdog machinery: each invoking thread owns a reusable slot
  // (ThreadLocal, registered once); arming the watchdog is two fields
  // under an uncontended monitor — ~50 ns on the 2.5M ops/s fcall
  // dispatch path, where a per-call ScheduledExecutor arm/cancel cost
  // ~500 ns and visibly halved the bench. ONE daemon sweeper scans the
  // slots every 20 ms; past a slot's deadline it sets the context's
  // abort flag and interrupts the thread. The slot monitor closes the
  // completion race — once the invocation returns, a late sweep can
  // neither flag a dead context nor poison the caller's next call with
  // a stray interrupt.
  private final class WatchSlot(val thread: Thread) {
    // deadline is volatile (the sweeper's cheap pre-check reads it
    // without the monitor); ALL writes — arm, finish, sweeper fire —
    // happen under synchronized(this). Arming must take the monitor
    // too: a NESTED call re-arms a slot whose outer deadline may be
    // expiring at that instant, and unsynchronized arm writes could
    // interleave with the sweeper's fire (aborting the fresh inner
    // invocation, or leaving a finite deadline with a null ctx).
    @volatile var deadline: Long = Long.MaxValue
    var ctx: FunctionContext = null
  }
  private val watchSlots = new java.util.concurrent.ConcurrentHashMap[Thread, WatchSlot]()
  private val watchSlotTL = new ThreadLocal[WatchSlot] {
    override def initialValue(): WatchSlot = {
      val s = new WatchSlot(Thread.currentThread())
      watchSlots.put(s.thread, s)
      s
    }
  }
  // parsed once per configSet, read per call (no string parse on the
  // dispatch hot path)
  private val lockTimeoutCache = new java.util.concurrent.atomic.AtomicLong(500L)
  @volatile private var watchdogRunning = true

  private lazy val lockWatchdogSweeper: Thread = {
    val t = new Thread(() => {
      while (watchdogRunning) {
        // a stray interrupt to this daemon must not kill the sweeper —
        // that would silently disable lock-timeout enforcement for the
        // whole Engine. Swallow it and keep sweeping.
        try {
          Thread.sleep(20)
          val now = System.currentTimeMillis()
          val it = watchSlots.values().iterator()
          while (it.hasNext) {
            val s = it.next()
            // dead threads are pruned regardless of deadline state — a
            // slot whose thread died while armed past its deadline must
            // not be "fired" (interrupting a dead thread) and linger
            if (!s.thread.isAlive) it.remove()
            else if (now >= s.deadline) s.synchronized {
              if (now >= s.deadline && s.ctx != null) {
                s.ctx.abortFlag.set(true)
                s.thread.interrupt()
                s.deadline = Long.MaxValue // fire once
                s.ctx = null
              }
            }
          }
        } catch {
          case _: InterruptedException => () // not ours; keep sweeping
        }
      }
    }, "graft-lock-watchdog")
    t.setDaemon(true)
    t.start()
    t
  }

  // private[graft]: the keyspace-trigger engine arms it around
  // subscriber dispatch, which also runs user code under the state lock
  private[graft] def withLockWatchdog[A](ctx: FunctionContext)(body: => A): A = {
    val timeoutMs = lockTimeoutCache.get()
    if (timeoutMs <= 0) body
    else {
      lockWatchdogSweeper // first use starts the daemon
      val slot = watchSlotTL.get()
      // save/restore: a NESTED engine.call from inside a running sync
      // function (user code holding an Engine reference) reuses this
      // thread's slot — on inner completion the OUTER invocation must
      // get its own deadline back, not an idle slot
      var prevDeadline = Long.MaxValue
      var prevCtx: FunctionContext = null
      slot.synchronized {
        prevDeadline = slot.deadline
        prevCtx = slot.ctx
        slot.ctx = ctx
        slot.deadline = System.currentTimeMillis() + timeoutMs
      }
      try body
      finally slot.synchronized {
        slot.deadline = prevDeadline
        slot.ctx = prevCtx
        // clear a just-delivered abort interrupt: it belonged to THIS
        // frame (not clearing would poison the caller's next blocking
        // call with a spurious InterruptedException no deadline asked
        // for). The clear happens INSIDE the slot monitor so it is
        // strictly ordered before any sweeper fire on the restored
        // outer deadline — the sweeper fires under this same monitor,
        // and it fires once (nulling ctx), so an interrupt delivered
        // for the outer frame between restore and clear would
        // otherwise be swallowed with no re-delivery.
        Thread.interrupted()
      }
    }
  }

  // --- invocation trace (the DEBUG-surface analogue; off by default) --
  private val traceBuf = new java.util.concurrent.ConcurrentLinkedDeque[TraceEntry]()
  // deque size tracked separately: ConcurrentLinkedDeque.size() is O(n)
  private val traceCount = new java.util.concurrent.atomic.AtomicInteger(0)

  private[core] def recordTrace(e: TraceEntry): Unit = {
    val limit = engineConfig("trace-buffer-size").toInt
    if (limit > 0) {
      traceBuf.addFirst(e)
      var n = traceCount.incrementAndGet()
      while (n > limit) {
        if (traceBuf.pollLast() != null) n = traceCount.decrementAndGet()
        else n = limit // raced with another trimmer; nothing left to trim
      }
    }
  }

  /** Recent invocations of `lib`'s functions, newest first — captured
    * only while `trace-buffer-size` > 0. */
  def trace(lib: String): Seq[TraceEntry] = {
    import scala.jdk.CollectionConverters._
    traceBuf.iterator.asScala.filter(_.library == lib).toSeq
  }

  /** Track per-function invocation stats (E16 depth): success/error
    * counters, the last error (rendered per error-verbosity), and —
    * when tracing is on — a timed per-invocation trace record. */
  private def recorded(lib: String, l: LoadedLibrary, fn: String,
      isAsync: Boolean)(body: => RespValue): RespValue = {
    val st = l.statsFor(fn)
    st.calls.increment()
    val t0 = System.nanoTime()
    try {
      val out = body
      recordTrace(TraceEntry(lib, fn, isAsync, (System.nanoTime() - t0) / 1e6,
        ok = true, None, System.currentTimeMillis()))
      out
    } catch {
      case e: Throwable =>
        st.errors.increment()
        val msg = errorString(e)
        st.lastError = Some(msg)
        recordTrace(TraceEntry(lib, fn, isAsync, (System.nanoTime() - t0) / 1e6,
          ok = false, Some(msg), System.currentTimeMillis()))
        throw e
    }
  }

  /** C13 RawArguments: without the flag, binary args are UTF-8 decoded
    * to strings (invalid UTF-8 is an error — the reference decodes args
    * before the call, `v8_function_ctx.rs:254-268`); with the flag they
    * pass through byte-exact. */
  private def decodeArgs(f: FunctionDef, args: Seq[RespValue]): Seq[RespValue] =
    if (f.flags.contains(FunctionFlags.RawArguments)) args
    else args.map {
      case RespBinary(b) => StreamRecord.decodeUtf8(b).map(RespString).getOrElse(
        throw new IllegalArgumentException(
          s"argument of '${f.name}' is not valid UTF-8 (declare ${FunctionFlags.RawArguments})"))
      case other => other
    }

  /** Await a promise chain — only ever called from a NON-pool thread
    * (the sync `call` path's blocked-client reply): blocking a pool
    * thread on a future that needs the same pool deadlocks at
    * executionThreads=1 (the reference's default), so the async path
    * chains with [[flatten]] instead. */
  private def resolve(v: RespValue): RespValue = v match {
    case RespPromise(fut) =>
      resolve(scala.concurrent.Await.result(fut, scala.concurrent.duration.Duration(60, "s")))
    case other => other
  }

  /** Non-blocking promise-chain resolution for pool threads. */
  private def flatten(v: RespValue): Future[RespValue] = v match {
    case RespPromise(fut) => fut.flatMap(flatten)
    case other => Future.successful(other)
  }

  private[core] def scheduleAsync(lib: String, readOnly: Boolean,
      body: FunctionContext => RespValue): RespValue = {
    val ctx = new FunctionContext(this, lib, readOnly)
    RespPromise(Future(body(ctx)))
  }

  /** TFCALLASYNC: runs on the background pool; the function must go
    * through the state table's commit path for writes (C6 `block`).
    * Promise results chain asynchronously (never `Await` on a pool
    * thread), so an async function whose body escapes through
    * `ctx.executeAsync` completes even with the default single
    * execution thread. */
  def callAsync(lib: String, fn: String, args: Seq[RespValue] = Seq.empty): Future[RespValue] = {
    val (f, l) = functionDef(lib, fn)
    oomCheck(lib, f)
    val ctx = new FunctionContext(this, lib, f.flags.contains(FunctionFlags.NoWrites))
    val decoded = decodeArgs(f, args)
    val st = l.statsFor(fn)
    st.calls.increment()
    val t0 = System.nanoTime()
    // async invocations pause on their pool thread, also at entry
    val out = Future { debugPause(lib, fn, decoded); f.fn(ctx, decoded) }
      .flatMap(flatten).map { v =>
        RespValue.validate(v).fold(e => throw new IllegalStateException(e), identity)
      }
    out.foreach { _ =>
      recordTrace(TraceEntry(lib, fn, isAsync = true, (System.nanoTime() - t0) / 1e6,
        ok = true, None, System.currentTimeMillis()))
    }
    out.failed.foreach { e =>
      st.errors.increment()
      val msg = errorString(e)
      st.lastError = Some(msg)
      recordTrace(TraceEntry(lib, fn, isAsync = true, (System.nanoTime() - t0) / 1e6,
        ok = false, Some(msg), System.currentTimeMillis()))
    }
    out
  }

  // remote tasks run on their own cached pool (the reference's libmr
  // threads) so the timeout can be enforced without tying up — or
  // deadlocking on — the bounded execution pool
  private val remotePool: ExecutorService = Executors.newCachedThreadPool()

  private[core] def runClusterFunction(lib: String, fn: String, args: Seq[RespValue],
      scope: Option[(Int, Int)] = None): RespValue = {
    val l = libraries.getOrElse(lib, throw new NoSuchElementException(s"no such library '$lib'"))
    val f = l.builder.clusterFunctions.getOrElse(fn,
      throw new NoSuchElementException(s"no such cluster function '$lib.$fn'"))
    val timeoutMs = engineConfig("remote-task-default-timeout").toLong
    // cluster functions are read-only by contract. From a SYNC function
    // the caller holds the reentrant state lock, so the task must run
    // inline (a remote thread could never acquire the lock — and in the
    // reference runOnKey exists only on the asyncClient anyway); the
    // timeout bounds the async path, where the reference's libmr
    // remote-task timeout applies (lib.rs:1913).
    if (!state.isBlockAllowed)
      return f.fn(new FunctionContext(Engine.this, lib, readOnly = true, scope), args)
    val task = remotePool.submit(new java.util.concurrent.Callable[RespValue] {
      def call(): RespValue = f.fn(new FunctionContext(Engine.this, lib, readOnly = true, scope), args)
    })
    try task.get(timeoutMs, TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        task.cancel(true)
        throw new java.util.concurrent.TimeoutException(
          s"remote task '$lib.$fn' timed out after ${timeoutMs}ms (remote-task-default-timeout)")
      case e: java.util.concurrent.ExecutionException =>
        throw e.getCause // surface the function's own error, not the wrapper
    }
  }

  private[core] def libraryConfig(lib: String): Map[String, String] =
    libraries.get(lib).map(_.config).getOrElse(Map.empty)

  private[graft] def functionContext(lib: String): FunctionContext =
    new FunctionContext(this, lib, readOnly = false)

  /** E16: TFUNCTION LIST — per-library functions, triggers, and
    * per-consumer stream stats. `withCode` includes the library's
    * declared source/description (WITHCODE). */
  def list(withCode: Boolean = false): Seq[LibraryInfo] = libraries.toSeq.sortBy(_._1).map { case (name, l) =>
    LibraryInfo(
      name = name,
      apiVersion = l.apiVersion,
      config = l.config,
      code = if (withCode) l.source else None,
      functions = l.builder.functions.values.toSeq.sortBy(_.name).map { f =>
        val st = l.statsFor(f.name)
        FunctionInfo(f.name, f.isAsync, f.flags, f.description,
          st.calls.sum(), st.errors.sum(), st.lastError)
      },
      clusterFunctions = l.builder.clusterFunctions.keys.toSeq.sorted,
      streamTriggers = l.builder.streamTriggers.keys.toSeq.sorted.map(t =>
        streams.stats(name, t)),
      keySpaceTriggers = l.builder.keySpaceTriggers.keys.toSeq.sorted.map(t =>
        keyspace.stats(name, t)),
      user = l.user)
  }

  /** RDB-save analogue: persist the state table (hashes, strings,
    * lists) as parquet PLUS the library catalog — (name, api version,
    * config, source, user, codeRef) per library and the ACL user
    * table — as a `_catalog.json` sidecar in the same directory
    * (underscore-prefixed files are invisible to parquet readers).
    * This is the full RDB payload of the reference
    * (`rdb.rs:52-91` saves name, code, config and user per library):
    * stream-consumer acks persist continuously through the checkpoint
    * store; state, catalog, and acks together cover everything the
    * reference writes to RDB. */
  def saveState(dir: String): Unit = {
    state.snapshot(spark).write.mode("overwrite").parquet(dir)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val usersNode = root.putObject("users")
    aclUsers.toSeq.sortBy(_._1).foreach { case (u, rules) =>
      val arr = usersNode.putArray(u)
      rules.foreach { r =>
        val o = arr.addObject()
        o.put("prefix", r.prefix); o.put("read", r.read); o.put("write", r.write)
      }
    }
    val libsNode = root.putArray("libraries")
    libraries.toSeq.sortBy(_._1).foreach { case (name, l) =>
      val o = libsNode.addObject()
      o.put("name", name)
      o.put("apiVersion", l.apiVersion)
      o.put("user", l.user)
      l.source.foreach(o.put("source", _))
      l.codeRef.foreach(o.put("codeRef", _))
      val cfg = o.putObject("config")
      l.config.toSeq.sortBy(_._1).foreach { case (k, v) => cfg.put(k, v) }
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_catalog.json"), true)
    try out.write(mapper.writeValueAsString(root)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Restore a [[saveState]] snapshot: the state table always; when the
    * snapshot carries a library catalog, also the ACL users and every
    * library whose code is recoverable (a [[LibraryCode]] `codeRef` —
    * re-resolved by class name and re-evaluated, the analogue of the
    * reference re-running each library's stored JS source at RDB load).
    * Returns the names of catalogued libraries that could NOT be
    * restored (anonymous-closure code with no `codeRef`) — empty on a
    * fully [[LibraryDefinition.of]]-registered engine and on
    * catalog-less snapshots.
    *
    * Full-replace semantics, matching the keyspace restore and the
    * reference's RDB load: libraries already loaded in this engine but
    * absent from the snapshot's catalog are DETACHED before the
    * catalogued set is restored, so the engine afterwards holds exactly
    * the snapshot's library set (catalog-less snapshots restore the
    * keyspace only and leave loaded libraries untouched). */
  def loadState(dir: String): Seq[String] = {
    state.restore(spark.read.parquet(dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val catPath = new org.apache.hadoop.fs.Path(dir, "_catalog.json")
    if (!fs.exists(catPath)) return Seq.empty
    val in = fs.open(catPath)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toByteArray
    } finally in.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(bytes)
    // full-replace: drop loaded libraries the snapshot doesn't carry
    // (mirrors state.restore replacing the whole keyspace)
    val catalogued = scala.collection.mutable.Set.empty[String]
    root.path("libraries").forEach(l => catalogued += l.path("name").asText())
    libraries.keys.toList.filterNot(catalogued).foreach(delete)
    // users first: library load re-checks that its user exists
    val users = root.path("users")
    users.fieldNames().forEachRemaining { u =>
      val rules = scala.collection.mutable.ArrayBuffer.empty[AclRule]
      users.get(u).forEach { r =>
        rules += AclRule(r.path("prefix").asText(""),
          r.path("read").asBoolean(true), r.path("write").asBoolean(true))
      }
      aclUsers.put(u, rules.toSeq)
    }
    val skipped = scala.collection.mutable.ArrayBuffer.empty[String]
    root.path("libraries").forEach { l =>
      val name = l.path("name").asText()
      if (!l.hasNonNull("codeRef")) { skipped += name }
      else {
        val config = scala.collection.mutable.Map.empty[String, String]
        val cfg = l.path("config")
        cfg.fieldNames().forEachRemaining(k => config(k) = cfg.get(k).asText())
        load(LibraryDefinition(name,
          apiVersion = l.path("apiVersion").asText("1.0"),
          code = Engine.resolveCode(l.path("codeRef").asText()),
          source = if (l.hasNonNull("source")) Some(l.path("source").asText()) else None,
          user = l.path("user").asText(Acl.DefaultUser),
          codeRef = Some(l.path("codeRef").asText())),
          replace = true, config = config.toMap)
      }
    }
    skipped.toSeq
  }

  /** TFUNCTION DEBUG analogue: the full diagnostic view of one library
    * — everything `list()` shows plus per-stream pending (nacked) ids
    * and the raw per-function error strings, rendered at the current
    * error-verbosity (`pytests/test_debugging.py` +
    * `test_verbose_error_reporting.py` are the reference shapes). */
  def debug(name: String): LibraryInfo =
    list().find(_.name == name).getOrElse(
      throw new NoSuchElementException(s"no such library '$name'"))

  def log(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger("graft.Engine").info(msg)

  override def close(): Unit = {
    streams.stopTails()
    watchdogRunning = false // sweeper exits at its next 20 ms tick
    pool.shutdown()
    remotePool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
    remotePool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Engine {
  val SupportedApiVersions: Set[String] = Set("1.0", "1.1")

  /** Resolve a catalog `codeRef` back to registration code: the class
    * name of a [[LibraryCode]] — a Scala `object` (class name ends in
    * `$`, instance at `MODULE$`) or a no-arg class. The restart-time
    * analogue of the reference evaluating each library's stored JS
    * source out of RDB (`rdb.rs:52-91` → `function_load_command.rs`). */
  private[core] def resolveCode(ref: String): LibraryBuilder => Unit = {
    val loader = Option(Thread.currentThread.getContextClassLoader)
      .getOrElse(getClass.getClassLoader)
    val cls = Class.forName(ref, true, loader)
    val inst =
      if (ref.endsWith("$")) cls.getField("MODULE$").get(null)
      else cls.getDeclaredConstructor().newInstance()
    inst match {
      case c: LibraryCode => c.register _
      case other => throw new IllegalArgumentException(
        s"codeRef '$ref' is not a graft.core.LibraryCode (got ${other.getClass.getName})")
    }
  }
  /** Library/function name charset, `lib.rs:1703-1713`. */
  def validName(n: String): Boolean =
    n.nonEmpty && n.forall(c => c.isLetterOrDigit && c < 128 || c == '_')

  /** Redis cluster key slots (public cluster spec): CRC16-CCITT/XMODEM
    * of the key (honoring `{hashtag}` routing — only the first tag's
    * content hashes, so callers can pin related keys to one shard),
    * modulo 16384. */
  val NumSlots = 16384
  def keySlot(key: String): Int = {
    val tagged = {
      val open = key.indexOf('{')
      if (open >= 0) {
        val close = key.indexOf('}', open + 1)
        if (close > open + 1) key.substring(open + 1, close) else key
      } else key
    }
    var crc = 0
    tagged.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      crc ^= (b & 0xff) << 8
      var i = 0
      while (i < 8) {
        crc = if ((crc & 0x8000) != 0) (crc << 1) ^ 0x1021 else crc << 1
        i += 1
      }
      crc &= 0xffff
    }
    crc % NumSlots
  }

  /** Virtual shard of a key: contiguous slot ranges assigned evenly to
    * `shards` shards — the same slots→nodes mapping a fresh Redis
    * cluster uses. */
  def shardOf(key: String, shards: Int): Int =
    (keySlot(key).toLong * shards / NumSlots).toInt
}

/** Raised when a shard-scoped cluster-function context touches a key
  * owned by another shard — the engine's MOVED analogue (on a real
  * cluster the key simply is not on this node). */
final class ShardMovedException(msg: String) extends RuntimeException(msg)

/** E10: raised inside a sync invocation that exceeded `lock-timeout`
  * (checkpointed at every state access — the JVM analogue of the
  * reference's Abort policy, `v8_script_ctx.rs:92-135`). */
final class FunctionAbortedException(msg: String) extends RuntimeException(msg)

/** E11/E13: raised when the engine is over `max-state-bytes` and a
  * function declaring neither allow-oom nor no-writes is invoked
  * (the reference's OOM call gating, `lib.rs:1293-1313`), or when a
  * library's attributed state footprint exceeds
  * `library-max-state-bytes` (the per-library V8 heap cap analogue,
  * `v8_backend.rs:305-393`). Message shape mirrors Redis's
  * "OOM command not allowed when used memory > 'maxmemory'". */
final class OomException(msg: String) extends RuntimeException(msg)

/** One traced invocation (see [[Engine.trace]]). */
case class TraceEntry(library: String, function: String, isAsync: Boolean,
    durationMs: Double, ok: Boolean, error: Option[String], ts: Long)

case class FunctionInfo(name: String, isAsync: Boolean, flags: Set[String],
    description: String, calls: Long = 0, errors: Long = 0,
    lastError: Option[String] = None)
case class StreamTriggerStats(library: String, trigger: String, prefix: String,
    window: Int, trimmed: Boolean, streams: Map[String, StreamConsumerStats])
case class StreamConsumerStats(lastReadId: String, totalProcessed: Long,
    totalErrors: Long, lastError: Option[String], lastLagMs: Long,
    pendingIds: Seq[String] = Seq.empty)
case class KeySpaceTriggerStats(library: String, trigger: String, prefix: String,
    totalFired: Long, totalErrors: Long, lastError: Option[String])
case class LibraryInfo(name: String, apiVersion: String,
    config: Map[String, String], functions: Seq[FunctionInfo],
    clusterFunctions: Seq[String], streamTriggers: Seq[StreamTriggerStats],
    keySpaceTriggers: Seq[KeySpaceTriggerStats],
    code: Option[String] = None, user: String = Acl.DefaultUser)
