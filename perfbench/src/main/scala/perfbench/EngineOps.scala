package perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.LongAdder

import scala.concurrent.Await
import scala.concurrent.duration._

import graft.core._
import graft.core.RespValue._

/** `engine_ops`: a closed loop of three client threads against one
  * engine (`executionThreads = 1`), no Spark jobs. Each client draws a
  * seeded mix over seeded keys: 20% no-op TFCALL, 30% TFCALL reading a
  * key, 20% TFCALL writing a key under a keyspace-trigger prefix, 20%
  * direct `state.set` on an untriggered prefix (the no-trigger
  * baseline) and 10% `callAsync` reading a key. Every reply is checked. */
object EngineOps {
  val Clients = 3
  val Keys = 4096
  val WarmOpsPerClient = 500000
  val OneClientOps = 100000
  // the measured window is cut into sub-windows; end-to-end figures are
  // medians over them, so a short burst of outside load moves them less
  val SubWindowNs = 500000000L
  private val Lib = "bench"
  // op kinds, in mix order
  private val Noop = 0; private val Get = 1; private val SetTrig = 2
  private val Plain = 3; private val Async = 4
  private val Kinds = Seq("noop", "get", "set_trig", "set_plain", "async")
  private val OpSpan = Array("core.call.noop", "core.call.get", "core.call.settrig",
    "core.state.set", "core.callAsync.aget")
  // every 64th request is traced end to end in a traced run
  private val SampleMask = 63L

  private val readKeys = Array.tabulate(Keys)(i => s"kv:$i")
  private val trigKeys = Array.tabulate(Keys)(i => s"trig:$i")
  private val plainKeys = Array.tabulate(Keys)(i => s"plain:$i")
  private val readArgs = readKeys.map(RespString(_))
  private val trigArgs = trigKeys.map(RespString(_))
  private val expected = Array.tabulate(Keys)(i => RespString(s"v$i"))
  private val One = RespLong(1)
  private val Ok = RespString("OK")
  private val Empty = RespString("")

  // (request id, span id of the triggered write) on the writing thread,
  // so the keyspace callback can name its parent span
  private val current = ThreadLocal.withInitial[Array[Long]](() => new Array[Long](2))

  private def body(name: String, a: Seq[RespValue])(f: Long => RespValue): RespValue = {
    val parent = a(2).asInstanceOf[RespLong].v
    if (parent == 0L) f(0L) else Trace.span(name, parent, a(1).asInstanceOf[RespLong].v)(f)
  }

  private def key(a: Seq[RespValue]): String = a.head.asInstanceOf[RespString].v

  private def library(fired: LongAdder): LibraryDefinition = LibraryDefinition(Lib, code = { b =>
    b.registerFunction("noop", (_, a) => body("bench.fn.noop", a)(_ => One))
    b.registerFunction("get", (ctx, a) => body("bench.fn.get", a)(_ =>
      ctx.get(key(a)).map(RespString).getOrElse(RespNull)))
    b.registerFunction("settrig", (ctx, a) => body("bench.fn.settrig", a) { span =>
      if (span == 0L) ctx.set(key(a), "t")
      else {
        val cur = current.get()
        cur(0) = a(1).asInstanceOf[RespLong].v
        Trace.span("keyspace.set", span, cur(0)) { id => cur(1) = id; ctx.set(key(a), "t") }
        cur(1) = 0L
      }
      Ok
    })
    b.registerAsyncFunction("aget", (ctx, a) => body("bench.fn.aget", a)(_ =>
      ctx.get(key(a)).map(RespString).getOrElse(RespNull)))
    b.registerKeySpaceTrigger("kt", "trig:", (_, _) => {
      val t0 = System.nanoTime()
      fired.increment()
      if (Trace.on) {
        val cur = current.get()
        if (cur(1) != 0L) Trace.record(Trace.newId(), cur(1), cur(0), "bench.trigger", t0, System.nanoTime())
      }
    })
  })

  /** One client's recordings; `subs` sub-windows from `origin`. */
  private final class Probe(val origin: Long = 0L, subs: Int = 0) {
    val lat: Array[LongBuf] = Array.fill(Kinds.size)(new LongBuf)
    val subSync: Array[LongBuf] = Array.fill(subs)(new LongBuf)
    val subOps = new Array[Long](subs)
    val calls = new Array[Long](Kinds.size)
    val plainWritten = new java.util.BitSet(Keys)
    val trigWritten = new java.util.BitSet(Keys)
    var failed = 0L
    var firstError: Option[String] = None
  }

  /** Run `maxOps` ops or until `deadline` (System.nanoTime). */
  private def client(e: Engine, id: Int, rnd: SplittableRandom, maxOps: Long,
      deadline: Long, p: Probe, mix: Boolean): Unit = {
    var i = 0L
    var now = System.nanoTime()
    while (i < maxOps && now < deadline) {
      val kind = if (!mix) Noop else {
        val r = rnd.nextInt(100)
        if (r < 20) Noop else if (r < 50) Get else if (r < 70) SetTrig else if (r < 90) Plain else Async
      }
      val k = rnd.nextInt(Keys)
      val req = (id.toLong << 40) | i
      val span = if (Trace.on && (req & SampleMask) == 0) Trace.newId() else 0L
      val args = Seq(if (kind == SetTrig) trigArgs(k) else if (kind == Noop) Empty else readArgs(k),
        RespLong(req), RespLong(span))
      val t0 = System.nanoTime()
      val ok = try kind match {
        case Noop => e.call(Lib, "noop", args) == One
        case Get => e.call(Lib, "get", args) == expected(k)
        case SetTrig => e.call(Lib, "settrig", args) == Ok
        case Plain => e.state.set(plainKeys(k), "p"); true
        case _ => Await.result(e.callAsync(Lib, "aget", args), 30.seconds) == expected(k)
      } catch {
        case t: Throwable =>
          if (p.firstError.isEmpty) p.firstError = Some(t.toString)
          false
      }
      now = System.nanoTime()
      p.lat(kind).add(now - t0)
      p.calls(kind) += 1
      if (kind == Plain) p.plainWritten.set(k)
      if (kind == SetTrig) p.trigWritten.set(k)
      if (!ok) p.failed += 1
      val w = ((t0 - p.origin) / SubWindowNs).toInt
      if (t0 >= p.origin && w < p.subOps.length) {
        p.subOps(w) += 1
        if (kind != Async) p.subSync(w).add(now - t0)
      }
      if (span != 0L) Trace.record(span, Trace.NoParent, req, OpSpan(kind), t0, now)
      i += 1
    }
  }

  private def runClients(e: Engine, seed: Long, round: Int, maxOps: Long, deadline: Long,
      origin: Long = 0L, subs: Int = 0): Seq[Probe] = {
    val probes = Seq.fill(Clients)(new Probe(origin, subs))
    val threads = probes.zipWithIndex.map { case (p, c) =>
      val rnd = new SplittableRandom(seed * 1000003L + round * 101L + c)
      val t = new Thread(() => client(e, round * Clients + c, rnd, maxOps, deadline, p, mix = true),
        s"client-$c")
      t.start()
      t
    }
    threads.foreach(_.join())
    probes
  }

  def run(ctx: Ctx): Outcome = {
    val problems = Seq.newBuilder[String]
    // set-up: an engine, its library, seeded keys
    val fired = new LongAdder
    val t0 = System.nanoTime()
    val e = ctx.untraced {
      val engine = new Engine(ctx.spark, executionThreads = 1)
      engine.load(library(fired))
      var i = 0
      while (i < Keys) { engine.state.set(readKeys(i), expected(i).v); i += 1 }
      engine
    }
    val prepS = Seq((System.nanoTime() - t0) / 1e9)
    val w0 = System.nanoTime()
    val warm = ctx.untraced(runClients(e, ctx.seed, 0, WarmOpsPerClient, Long.MaxValue))
    val warmS = (System.nanoTime() - w0) / 1e9

    val (gc0, gcn0) = Jvm.gc()
    val m0 = System.nanoTime()
    val subs = math.max(1, (ctx.seconds * 1000000000L / SubWindowNs).toInt)
    val probes = runClients(e, ctx.seed, 1, Long.MaxValue, m0 + subs * SubWindowNs, m0, subs)
    val windowS = (System.nanoTime() - m0) / 1e9
    val (gc1, gcn1) = Jvm.gc()

    // service time without contention, traced runs only
    val one = if (!ctx.trace) None else ctx.untraced {
      val p = new Probe
      client(e, 99, new SplittableRandom(ctx.seed), OneClientOps, Long.MaxValue, p, mix = false)
      Some(p)
    }

    // checks: call counts, trigger counts, written values; each wrong
    // count or lost write counts as one failure beside the failed replies
    var wrong = 0L
    val all = warm ++ probes ++ one
    val calls = Kinds.indices.map(k => all.map(_.calls(k)).sum)
    val info = e.list().find(_.name == Lib)
    val fnCalls = info.map(_.functions.map(f => f.name -> f.calls).toMap).getOrElse(Map.empty)
    Seq("noop" -> Noop, "get" -> Get, "settrig" -> SetTrig, "aget" -> Async).foreach { case (fn, k) =>
      if (fnCalls.getOrElse(fn, -1L) != calls(k)) {
        wrong += 1
        problems += s"list() reports ${fnCalls.getOrElse(fn, -1L)} calls of $fn, made ${calls(k)}"
      }
    }
    val ks = info.flatMap(_.keySpaceTriggers.find(_.trigger == "kt"))
    val totalFired = ks.map(_.totalFired).getOrElse(-1L)
    if (totalFired != calls(SetTrig) || fired.sum() != calls(SetTrig) || ks.exists(_.totalErrors != 0)) {
      wrong += 1
      problems += s"keyspace trigger fired $totalFired (callback ${fired.sum()}) for ${calls(SetTrig)} writes"
    }
    val plain = new java.util.BitSet(Keys)
    val trig = new java.util.BitSet(Keys)
    all.foreach { p => plain.or(p.plainWritten); trig.or(p.trigWritten) }
    (0 until Keys).foreach { k =>
      Seq((plain, plainKeys, "p"), (trig, trigKeys, "t")).foreach { case (written, keys, v) =>
        if (written.get(k) && !e.state.get(keys(k)).contains(v)) {
          wrong += 1
          problems += s"lost write ${keys(k)}"
        }
      }
    }
    all.flatMap(_.firstError).headOption.foreach(err => problems += s"call failed: $err")
    val attempted = all.map(p => p.calls.sum).sum
    val failed = all.map(_.failed).sum + wrong
    def lat(kinds: Int*): Array[Long] = Stats.merged(probes.flatMap(p => kinds.map(p.lat(_))))
    val perSub = (0 until subs).map { w =>
      (probes.map(_.subOps(w)).sum / (SubWindowNs / 1e9), Stats.merged(probes.map(_.subSync(w))))
    }
    val layers = Map.newBuilder[String, Double]
    Seq("call_noop" -> Noop, "call_get" -> Get, "call_set_trig" -> SetTrig,
        "set_plain" -> Plain, "async" -> Async).foreach { case (n, k) =>
      val s = lat(k)
      layers += s"core.${n}_p50_us" -> Stats.pct(s, 50) / 1e3
      layers += s"core.${n}_p99_us" -> Stats.pct(s, 99) / 1e3
    }
    layers += "keyspace.fired_per_write" -> totalFired.toDouble / math.max(1L, calls(SetTrig))
    layers += "jvm.gc_ms" -> (gc1 - gc0).toDouble
    layers += "jvm.gc_count" -> (gcn1 - gcn0).toDouble
    one.foreach(p => layers += "core.one_client_noop_us" -> Stats.pct(Stats.merged(Seq(p.lat(Noop))), 50) / 1e3)
    if (ctx.trace) layers ++= spanGaps()
    e.close()

    Outcome(attempted, failed, problems.result(), prepS, warmS,
      throughput = Stats.median(perSub.map(_._1)),
      p50Ms = Stats.median(perSub.map(s => Stats.pct(s._2, 50))) / 1e6,
      p99Ms = Stats.median(perSub.map(s => Stats.pct(s._2, 99))) / 1e6,
      layers = layers.result(),
      info = Map("clients" -> Clients, "execution_threads" -> 1, "keys" -> Keys,
        "mix" -> "20% noop, 30% get, 20% set_trig, 20% set_plain, 10% async",
        "window_s" -> windowS, "sub_window_ops_per_s" -> perSub.map(_._1),
        "trace_sample" -> s"1/${SampleMask + 1}",
        "ops" -> Kinds.indices.map(k => Kinds(k) -> probes.map(_.calls(k)).sum).toMap))
  }

  /** Gaps between sampled spans of one request: call start to function
    * body entry, async submit to body entry, write start to trigger
    * callback entry. */
  private def spanGaps(): Map[String, Double] = {
    val spans = Trace.spans()
    val byId = spans.map(s => s.id -> s).toMap
    def gaps(child: String, parentName: String => Boolean): Array[Long] = {
      val g = spans.filter(_.name == child).flatMap { c =>
        byId.get(c.parent).filter(p => parentName(p.name)).map(p => c.start - p.start)
      }.toArray
      java.util.Arrays.sort(g)
      g
    }
    val bodyWait = Stats.merged(Seq("noop", "get", "settrig").map { f =>
      val b = new LongBuf; gaps(s"bench.fn.$f", _.startsWith("core.call.")).foreach(b.add); b
    })
    val asyncQ = gaps("bench.fn.aget", _ == "core.callAsync.aget")
    val dispatch = gaps("bench.trigger", _ == "keyspace.set")
    Map("core.body_wait_p50_us" -> Stats.pct(bodyWait, 50) / 1e3,
      "core.body_wait_p99_us" -> Stats.pct(bodyWait, 99) / 1e3,
      "core.async_queue_p50_us" -> Stats.pct(asyncQ, 50) / 1e3,
      "core.async_queue_p99_us" -> Stats.pct(asyncQ, 99) / 1e3,
      "keyspace.dispatch_p50_us" -> Stats.pct(dispatch, 50) / 1e3)
  }
}
