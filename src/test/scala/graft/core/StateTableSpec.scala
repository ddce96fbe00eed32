package graft.core

import java.util.concurrent.CountDownLatch

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.scalacheck.{Gen, Prop}
import org.scalacheck.Test.{check, Parameters}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The state table against a plain sequential model (values, keyspace
  * events, TTL presence, byte accounting, last-writer attribution, LRU
  * eviction, multi-op transactions with list writes),
  * its invariants under concurrent writers, and the Redis refusals of
  * arithmetic that would wrap (INCRBY past the Long range, EXPIRE past
  * the epoch-millis range). */
class StateTableSpec extends AnyFunSuite {
  import StateTableSpec._

  private def recorder(t: StateTable): ArrayBuffer[String] = {
    val events = ArrayBuffer.empty[String]
    t.subscribe(e => events += s"${e.event}:${e.key}")
    events
  }

  test("incrBy past the Long range is refused; the value stays and no event fires") {
    val t = new StateTable
    val events = recorder(t)
    t.set("c", Long.MaxValue.toString)
    t.set("m", Long.MinValue.toString)
    val err = intercept[ArithmeticException](t.incrBy("c", 1))
    assert(err.getMessage.contains("increment or decrement would overflow"))
    intercept[ArithmeticException](t.incrBy("m", -1))
    t.set("z", "0")
    assert(t.incrBy("z", Long.MinValue) == Long.MinValue)
    intercept[ArithmeticException](t.incrBy("z", -1))
    // inside a transaction the refusal discards the transaction's other writes too
    intercept[ArithmeticException](t.commit { x => x.set("other", "1"); x.incrBy("c", 1) })
    assert(t.get("c").contains(Long.MaxValue.toString))
    assert(t.get("m").contains(Long.MinValue.toString))
    assert(t.get("z").contains(Long.MinValue.toString))
    assert(!t.exists("other"))
    assert(events.toSeq == Seq("set:c", "set:m", "set:z", "incrby:z"))
    assert(t.incrBy("c", -1) == Long.MaxValue - 1)
  }

  test("expire past the epoch-millis range is refused; the key and its TTL stay") {
    val t = new StateTable
    val events = recorder(t)
    t.set("k", "v")
    assert(t.expire("k", 60000))
    intercept[IllegalArgumentException](t.expire("k", Long.MaxValue))
    assert(t.ttl("k").exists(ms => ms > 0 && ms <= 60000))
    t.set("p", "v") // no TTL
    intercept[IllegalArgumentException](t.expire("p", Long.MaxValue))
    assert(t.ttl("p").isEmpty)
    assert(t.sweepExpired() == 0)
    assert(t.get("k").contains("v") && t.get("p").contains("v"))
    assert(events.toSeq == Seq("set:k", "set:p"))
  }

  test("property: random op sequences match a sequential model") {
    val spark = TestSpark.spark
    // no shrinking: a failing sequence is reported whole, op by op
    val genRun = for {
      cap <- Gen.oneOf(0, 0, 3, 5)
      ops <- Gen.choose(0, 60).flatMap(Gen.listOfN(_, genOp(cap)))
    } yield (cap, ops)
    val prop = Prop.forAllNoShrink(genRun) {
      case (cap, ops) =>
        val t = new StateTable
        t.setMaxKeys(cap)
        val events = recorder(t)
        val m = new Model(cap)
        ops.zipWithIndex.foreach { case (op, i) =>
          val where = s"step $i ($op) of $ops, max-keys $cap"
          val want = m.apply(op)
          val got = runOp(t, op, spark)
          assert(got == want, s"result at $where")
          val fired = events.toSeq
          events.clear()
          val (writes, evicted) = fired.splitAt(m.events.size)
          assert(writes == m.events, s"events at $where")
          assert(evicted.forall(_.startsWith("evicted:")), s"events at $where: $fired")
          m.evict(evicted.map(_.stripPrefix("evicted:")), where)
          Keys.foreach { k =>
            assert(t.exists(k) == m.keys.contains(k), s"exists($k) at $where")
            assert(t.lrange(k) == m.keys.get(k).flatMap(_.list).getOrElse(Vector.empty), s"lrange($k) at $where")
            assert(t.ttl(k).isDefined == m.ttls.contains(k), s"ttl($k) at $where")
          }
          assert(t.size == m.keys.size, s"size at $where")
          assert(t.usedBytes == m.bytes(_ => true), s"usedBytes at $where")
          Libs.foreach(lib => assert(t.usedBytesBy(lib) == m.bytes(_.owner.contains(lib)), s"usedBytesBy($lib) at $where"))
        }
        Keys.forall(k => t.hgetall(k) == m.keys.get(k).flatMap(_.hash).getOrElse(Map.empty))
    }
    val result = check(Parameters.default.withMinSuccessfulTests(150), prop)
    assert(result.passed, result.status.toString)
  }

  test("concurrent writers keep the key count and byte accounting exact") {
    val Threads = 4
    val OpsPerThread = 100000
    val Counters = 4
    val t = new StateTable
    val shared = (0 until 8).map(i => s"s$i")
    val counters = (0 until Counters).map(i => s"c$i")
    def own(w: Int) = (0 until 8).map(i => s"d$w-$i")
    val increments = Array.fill(Threads, Counters)(0L)
    val start = new CountDownLatch(1)
    val threads = (0 until Threads).map { w =>
      new Thread(() => {
        val rnd = new scala.util.Random(w * 7919L + 1)
        t.writerScope.set(s"lib$w")
        start.await()
        (0 until OpsPerThread).foreach { _ =>
          val k = if (rnd.nextBoolean()) shared(rnd.nextInt(8)) else own(w)(rnd.nextInt(8))
          val v = "x" * rnd.nextInt(6)
          rnd.nextInt(13) match {
            case 0 => t.set(k, v)
            case 1 => t.hset(k, s"f${rnd.nextInt(3)}" -> v)
            case 2 => t.del(k)
            case 3 => t.hdel(k, s"f${rnd.nextInt(3)}")
            case 4 => t.lpush(k, v, "y")
            case 5 => t.rpush(k, v)
            case 6 => t.lpop(k)
            case 7 => t.rpop(k)
            case 8 => t.get(k); t.hgetall(k); t.lrange(k); t.exists(k)
            case 9 => t.expire(k, 3600000L)
            case 10 => t.commit { x => x.hset(k, "a" -> v); x.hdel(k, "a"); x.exists(k) }
            case _ =>
              val c = rnd.nextInt(Counters)
              t.incrBy(counters(c), 1)
              increments(w)(c) += 1
          }
        }
        t.writerScope.remove()
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join(120000))
    assert(threads.forall(!_.isAlive), "writers did not finish")

    val candidates = shared ++ counters ++ (0 until Threads).flatMap(own)
    val live = candidates.filter(t.exists)
    assert(t.size == live.size)
    assert(t.scan("") == live.sorted)
    def bytesOf(k: String): Long = k.length.toLong +
      t.hgetall(k).iterator.map { case (f, v) => f.length.toLong + v.length }.sum +
      t.lrange(k).iterator.map(_.length.toLong).sum
    val sizes = live.map(k => k -> bytesOf(k)).toMap
    assert(t.usedBytes == sizes.values.sum)
    // every write ran under a library scope, so every live key is attributed
    val owners = t.snapshot(TestSpark.spark).collect().collect {
      case r if r.getString(1) == StateTable.OwnerField => r.getString(0) -> r.getString(2)
    }.toMap
    assert(owners.keySet == live.toSet)
    (0 until Threads).foreach { w =>
      val lib = s"lib$w"
      assert(t.usedBytesBy(lib) == owners.collect { case (k, `lib`) => sizes(k) }.sum, lib)
    }
    assert((0 until Threads).map(w => t.usedBytesBy(s"lib$w")).sum == t.usedBytes)
    counters.indices.foreach { c =>
      assert(t.get(counters(c)).contains(increments.map(_(c)).sum.toString), counters(c))
    }
  }
}

object StateTableSpec {
  val Keys: Seq[String] = (0 until 8).map(i => s"k$i")
  val Libs: Seq[String] = Seq("libA", "libB")
  private val VF = StateTable.ValueField

  /** One operation; `scope` is the writing library (null = host code). */
  sealed trait Op { def scope: String }
  final case class SetOp(key: String, v: String, scope: String) extends Op
  final case class HSet(key: String, fields: List[(String, String)], scope: String) extends Op
  final case class Del(key: String, scope: String) extends Op
  final case class HDel(key: String, fields: List[String], scope: String) extends Op
  final case class IncrBy(key: String, delta: Long, scope: String) extends Op
  final case class Push(key: String, head: Boolean, vs: List[String], scope: String) extends Op
  final case class Pop(key: String, head: Boolean, scope: String) extends Op
  final case class Expire(key: String, scope: String) extends Op
  final case class Get(key: String, scope: String) extends Op
  final case class HGetAll(key: String, scope: String) extends Op
  case object SnapshotRestore extends Op { def scope: String = null }
  /** Writes run as one transaction; every op carries the Atomic's scope. */
  final case class Atomic(ops: List[Op], scope: String) extends Op

  private val genKey = Gen.oneOf(Keys)
  private val genScope = Gen.oneOf[String]("libA", "libB", null)
  private val genValue = Gen.oneOf("1", "-7", "42", "", "x", "hello")
  private val genField = Gen.oneOf("f", "g", VF)
  private def genWrite(genScope: Gen[String]): Gen[Op] = Gen.frequency(
    5 -> Gen.zip(genKey, genValue, genScope).map(SetOp.tupled),
    4 -> Gen.zip(genKey, Gen.nonEmptyListOf(Gen.zip(genField, genValue)).map(_.take(3)), genScope).map(HSet.tupled),
    3 -> Gen.zip(genKey, genScope).map(Del.tupled),
    3 -> Gen.zip(genKey, Gen.nonEmptyListOf(genField).map(_.take(3)), genScope).map(HDel.tupled),
    3 -> Gen.zip(genKey, Gen.choose(-5L, 5L), genScope).map(IncrBy.tupled),
    4 -> Gen.zip(genKey, Gen.oneOf(true, false), Gen.nonEmptyListOf(genValue).map(_.take(3)), genScope)
      .map(Push.tupled),
    3 -> Gen.zip(genKey, Gen.oneOf(true, false), genScope).map(Pop.tupled))
  // transactions only without a key cap, so recency order inside one
  // (first reads touch before the commit's writes) never decides an eviction
  private val genAtomic: Gen[Op] = for {
    scope <- genScope
    n <- Gen.choose(2, 3)
    ops <- Gen.listOfN(n, genWrite(Gen.const(scope)))
  } yield Atomic(ops, scope)
  private def genOp(cap: Int): Gen[Op] = Gen.frequency(Seq(
    25 -> genWrite(genScope),
    2 -> Gen.zip(genKey, genScope).map(Expire.tupled),
    2 -> Gen.zip(genKey, genScope).map(Get.tupled),
    2 -> Gen.zip(genKey, genScope).map(HGetAll.tupled),
    1 -> Gen.const(SnapshotRestore)) ++ (if (cap == 0) Seq(4 -> genAtomic) else Nil): _*)

  /** Run `op` against the table; a refusal returns its exception class. */
  private def runOp(t: StateTable, op: Op, spark: org.apache.spark.sql.SparkSession): Any = {
    if (op.scope != null) t.writerScope.set(op.scope)
    try op match {
      case Atomic(ops, _) => t.commit(x => ops.map {
        case SetOp(k, v, _) => x.set(k, v)
        case HSet(k, fs, _) => x.hset(k, fs: _*)
        case Del(k, _) => x.del(k)
        case HDel(k, fs, _) => x.hdel(k, fs: _*)
        case IncrBy(k, d, _) => x.incrBy(k, d)
        case Push(k, head, vs, _) => if (head) x.lpush(k, vs: _*) else x.rpush(k, vs: _*)
        case Pop(k, head, _) => if (head) x.lpop(k) else x.rpop(k)
        case other => sys.error(s"not a transaction write: $other")
      })
      case SetOp(k, v, _) => t.set(k, v)
      case HSet(k, fs, _) => t.hset(k, fs: _*)
      case Del(k, _) => t.del(k)
      case HDel(k, fs, _) => t.hdel(k, fs: _*)
      case IncrBy(k, d, _) => t.incrBy(k, d)
      case Push(k, head, vs, _) => if (head) t.lpush(k, vs: _*) else t.rpush(k, vs: _*)
      case Pop(k, head, _) => if (head) t.lpop(k) else t.rpop(k)
      case Expire(k, _) => t.expire(k, 3600000L)
      case Get(k, _) => t.get(k)
      case HGetAll(k, _) => t.hgetall(k)
      case SnapshotRestore => t.restore(t.snapshot(spark))
    } catch { case e: RuntimeException => e.getClass }
    finally t.writerScope.remove()
  }

  /** A key in the model: its hash and list (None = absent, never
    * empty), the model's recency stamp and owning library. */
  final case class MKey(hash: Option[Map[String, String]], list: Option[Vector[String]],
      stamp: Long, owner: Option[String]) {
    def bytes(key: String): Long = key.length.toLong +
      hash.map(_.iterator.map { case (f, v) => f.length.toLong + v.length }.sum).getOrElse(0L) +
      list.map(_.iterator.map(_.length.toLong).sum).getOrElse(0L)
  }

  /** The sequential model: one map of live keys, the keys with a TTL, the
    * events the last op fired (evictions excluded), and a recency
    * counter. */
  final class Model(cap: Int) {
    val keys = mutable.Map.empty[String, MKey]
    // every TTL is the 1-hour one, so none expires during a run
    val ttls = mutable.Set.empty[String]
    var events: Seq[String] = Nil
    private var seq = 0L

    def bytes(p: MKey => Boolean): Long = keys.iterator.collect { case (k, e) if p(e) => e.bytes(k) }.sum

    private def touch(k: String): Unit = { seq += 1; keys(k) = keys(k).copy(stamp = seq) }
    private def hash(k: String): Map[String, String] = keys.get(k).flatMap(_.hash).getOrElse(Map.empty)
    // a transaction's first read of a key touches it when its hash is non-empty
    private def txnRead(k: String): Map[String, String] = {
      if (hash(k).nonEmpty) touch(k)
      hash(k)
    }
    private def upsert(k: String, scope: String)(f: MKey => MKey): Unit = {
      val e = keys.getOrElse(k, MKey(None, None, 0L, None))
      keys(k) = f(e).copy(owner = Option(scope).orElse(e.owner))
      touch(k)
    }
    private def write(k: String, h: Map[String, String], scope: String): Unit = upsert(k, scope)(_.copy(hash = Some(h)))
    private def drop(k: String, hashPart: Boolean): Unit = keys.get(k).foreach { e =>
      val rest = if (hashPart) e.copy(hash = None) else e.copy(list = None)
      if (rest.hash.isEmpty && rest.list.isEmpty) keys -= k else keys(k) = rest
    }

    /** Apply `op`; returns the result the table must return. */
    def apply(op: Op): Any = {
      val ev = ArrayBuffer.empty[String]
      val out: Any = op match {
        case Atomic(ops, _) =>
          // a refused op discards the whole transaction: its writes, TTL
          // clears and events
          val (savedKeys, savedTtls) = (keys.clone(), ttls.clone())
          val outs = ops.map { o => val r = apply(o); ev ++= events; r }
          outs.collectFirst { case c: Class[_] => c } match {
            case Some(refused) =>
              keys.clear(); keys ++= savedKeys
              ttls.clear(); ttls ++= savedTtls
              ev.clear()
              refused
            case None => outs
          }
        case SetOp(k, v, s) => write(k, Map(VF -> v), s); ttls -= k; ev += s"set:$k"; ()
        case HSet(k, fs, s) => write(k, txnRead(k) ++ fs, s); ev += s"hset:$k"; ()
        case Del(k, _) =>
          val hadList = keys.get(k).exists(_.list.isDefined)
          if (hadList) drop(k, hashPart = false)
          txnRead(k)
          val existed = keys.contains(k)
          drop(k, hashPart = true)
          if (existed || hadList) ev += s"del:$k"
          ttls -= k
          existed || hadList
        case HDel(k, fs, s) =>
          val cur = txnRead(k)
          val removed = fs.count(cur.contains)
          if (removed > 0) {
            val next = cur -- fs
            if (next.isEmpty) { drop(k, hashPart = true); ttls -= k } else write(k, next, s)
            ev += s"hdel:$k"
          }
          removed
        case IncrBy(k, d, s) =>
          val cur = txnRead(k)
          try {
            val next = cur.get(VF).map(_.toLong).getOrElse(0L) + d
            write(k, cur + (VF -> next.toString), s)
            ev += s"incrby:$k"
            next
          } catch { case e: NumberFormatException => e.getClass }
        case Push(k, head, vs, s) =>
          upsert(k, s) { e =>
            val l = e.list.getOrElse(Vector.empty[String])
            e.copy(list = Some(if (head) vs.foldLeft(l)((acc, v) => v +: acc) else l ++ vs))
          }
          ev += s"${if (head) "l" else "r"}push:$k"
          keys(k).list.get.size.toLong
        case Pop(k, head, _) =>
          keys.get(k).flatMap(_.list) match {
            case Some(l) =>
              val (v, rest) = if (head) (l.head, l.tail) else (l.last, l.init)
              if (rest.isEmpty) drop(k, hashPart = false) else keys(k) = keys(k).copy(list = Some(rest))
              if (!keys.contains(k)) ttls -= k
              ev += s"${if (head) "l" else "r"}pop:$k"
              Some(v)
            case None => None
          }
        case Expire(k, _) => if (keys.contains(k)) ttls += k; keys.contains(k)
        case Get(k, _) =>
          val v = hash(k).get(VF)
          if (v.isDefined) touch(k)
          v
        case HGetAll(k, _) =>
          val h = hash(k)
          if (h.nonEmpty) touch(k)
          h
        case SnapshotRestore =>
          keys.keys.toSeq.foreach(k => keys(k) = keys(k).copy(stamp = 0L))
          ()
      }
      events = ev.toSeq
      out
    }

    /** Check the table's evictions after an op: exactly the overflow,
      * least recently touched first (keys tied on recency in either
      * order), then drop them. */
    def evict(victims: Seq[String], where: String): Unit = {
      val overflow = if (cap > 0) math.max(0, keys.size - cap) else 0
      assert(victims.size == overflow && victims.distinct == victims && victims.forall(keys.contains),
        s"evicted $victims of ${keys.keySet} (max-keys $cap) at $where")
      val stamps = victims.map(keys(_).stamp)
      val survivors = keys.keySet -- victims
      assert(stamps == stamps.sorted, s"eviction order $victims at $where")
      assert(survivors.forall(k => stamps.forall(_ <= keys(k).stamp)),
        s"evicted $victims before a less recent key of $survivors at $where")
      keys --= victims
      ttls --= victims
    }
  }
}
