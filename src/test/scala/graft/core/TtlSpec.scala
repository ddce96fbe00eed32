package graft.core

import scala.collection.mutable.ArrayBuffer

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** TTL semantics and the `expired` keyspace event (the reference's R4
  * triggers fire on `expired`/`evicted` notifications alongside write
  * events). Expiration is lazy on access plus an active sweep. */
class TtlSpec extends AnyFunSuite {

  test("expire/ttl lifecycle: lazy expiration removes the key and fires 'expired'") {
    val t = new StateTable
    val events = ArrayBuffer.empty[String]
    t.subscribe(e => events += s"${e.event}:${e.key}")
    t.set("k", "v")
    assert(t.expire("k", 30))
    assert(t.ttl("k").exists(_ <= 30))
    Thread.sleep(60)
    assert(t.get("k").isEmpty) // lazy expiration on read
    assert(events.contains("expired:k"))
    assert(!t.exists("k") && t.ttl("k").isEmpty)
  }

  test("expire on a missing key is false; SET discards the TTL; del clears it") {
    val t = new StateTable
    assert(!t.expire("ghost", 100))
    t.set("k", "v1")
    t.expire("k", 30)
    t.set("k", "v2") // Redis: SET discards the TTL
    Thread.sleep(60)
    assert(t.get("k").contains("v2"))
    assert(t.ttl("k").isEmpty)
    // hset keeps the TTL
    t.hset("h", "f" -> "v")
    t.expire("h", 30)
    t.hset("h", "g" -> "w")
    assert(t.ttl("h").isDefined)
    t.del("h")
    assert(t.ttl("h").isEmpty)
  }

  test("deletion inside a transaction clears the TTL (no stale expiry on re-create)") {
    val t = new StateTable
    val events = ArrayBuffer.empty[String]
    t.subscribe(e => events += s"${e.event}:${e.key}")
    // del inside an atomic block, key later re-created with hset (keeps
    // TTL per Redis semantics) — must NOT inherit the old deadline
    t.set("k", "v"); t.expire("k", 30)
    t.commit(_.del("k"))
    t.hset("k", "f" -> "v")
    Thread.sleep(60)
    assert(t.hget("k", "f").contains("v"))
    assert(t.ttl("k").isEmpty)
    assert(!events.contains("expired:k"), "stale TTL fired a bogus expired event")
    // hdel removing the hash's LAST field is a deletion too
    t.hset("h", "f" -> "v"); t.expire("h", 30)
    t.commit(_.hdel("h", "f"))
    t.incrBy("h", 1) // re-created as a counter; incrBy keeps TTLs
    Thread.sleep(60)
    assert(t.get("h").contains("1"))
    assert(t.ttl("h").isEmpty)
    // hdel that leaves fields behind keeps the TTL in place
    t.hset("m", "a" -> "1", "b" -> "2"); t.expire("m", 60000)
    t.commit(_.hdel("m", "a"))
    assert(t.ttl("m").isDefined)
  }

  test("sweepExpired actively expires due keys, lists included") {
    val t = new StateTable
    t.set("a", "1"); t.expire("a", 10)
    t.rpush("l", "x"); t.expire("l", 10)
    t.set("keep", "1")
    Thread.sleep(40)
    assert(t.sweepExpired() == 2)
    assert(!t.exists("a") && !t.exists("l") && t.exists("keep"))
  }

  test("a transaction that hdel-empties a key then recreates it loses the TTL (clear decided at deletion time)") {
    val t = new StateTable
    t.hset("h", "f" -> "v")
    t.expire("h", 60000)
    // hdel removes the last field (key deleted → TTL cleared), then the
    // same transaction recreates the key: Redis clears the TTL at the
    // moment of deletion, so the recreated key must have none — even
    // though post-commit state shows the key alive
    t.commit { txn =>
      txn.hdel("h", "f")
      txn.hset("h", "g" -> "w")
    }
    assert(t.hget("h", "g").contains("w"))
    assert(t.ttl("h").isEmpty, "recreated key must not inherit the deleted key's TTL")
    // control: a partial hdel (key survives) keeps the TTL
    t.hset("h2", "a" -> "1", "b" -> "2")
    t.expire("h2", 60000)
    t.commit(_.hdel("h2", "a"))
    assert(t.ttl("h2").isDefined)
  }

  test("TTLs survive snapshot/restore; already-expired keys die on first access") {
    val spark = TestSpark.spark
    val t = new StateTable
    t.set("short", "v"); t.expire("short", 20)
    t.set("long", "v"); t.expire("long", 60000)
    t.set("forever", "v")
    val snap = t.snapshot(spark)
    Thread.sleep(50) // "short" passes its deadline while "persisted"
    val t2 = new StateTable
    t2.restore(snap)
    assert(t2.get("short").isEmpty) // restored deadline already due
    assert(t2.get("long").contains("v") && t2.ttl("long").exists(_ > 0))
    assert(t2.get("forever").contains("v") && t2.ttl("forever").isEmpty)
  }

  test("expired event drives a keyspace trigger through the engine (R4)") {
    val e = new Engine(TestSpark.spark)
    val seen = ArrayBuffer.empty[String]
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerKeySpaceTrigger("t", "sess:", (_, ev) => seen += s"${ev.event}:${ev.key}")
    }))
    e.state.set("sess:42", "live")
    e.state.expire("sess:42", 10)
    Thread.sleep(40)
    e.state.sweepExpired()
    assert(seen.contains("set:sess:42") && seen.contains("expired:sess:42"))
    e.close()
  }

  test("a list emptied by LPOP/RPOP loses its TTL with the key") {
    val t = new StateTable
    t.lpush("k", "a")
    assert(t.expire("k", 3600000))
    assert(t.lpop("k").contains("a")) // last element: the key is gone
    assert(!t.exists("k") && t.ttl("k").isEmpty)
    t.lpush("k", "b") // a new key: no inherited deadline
    assert(t.ttl("k").isEmpty)
    t.rpush("r", "a")
    t.expire("r", 3600000)
    assert(t.rpop("r").contains("a"))
    t.rpush("r", "b")
    assert(t.ttl("r").isEmpty)
  }

  test("a due key expires before a write or a list read touches it") {
    val t = new StateTable
    val events = ArrayBuffer.empty[String]
    t.subscribe(e => events += s"${e.event}:${e.key}")
    // `a` fired, and before the latest `b`
    def before(a: String, b: String): Boolean =
      events.indexOf(a) >= 0 && events.indexOf(a) < events.lastIndexOf(b)
    def due(key: String): Unit = {
      t.rpush(key, "old")
      assert(t.expire(key, 20))
      Thread.sleep(40)
    }
    due("push")
    assert(t.rpush("push", "new") == 1) // a fresh list, not the dead one
    assert(before("expired:push", "rpush:push"))
    assert(t.lrange("push") == Seq("new") && t.ttl("push").isEmpty)
    due("pop")
    assert(t.lpop("pop").isEmpty)
    assert(events.contains("expired:pop") && !events.contains("lpop:pop"))
    due("read")
    assert(t.llen("read") == 0)
    assert(events.contains("expired:read"))
    due("range")
    assert(t.lrange("range").isEmpty)
    assert(events.contains("expired:range"))
    due("str")
    t.set("str", "v")
    assert(t.lrange("str").isEmpty && t.get("str").contains("v"))
    assert(before("expired:str", "set:str"))
  }
}
