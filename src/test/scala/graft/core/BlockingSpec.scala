package graft.core

import scala.concurrent.Await
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.RespValue._

/** List operations and blocking pop (C3/C4), mirroring the reference's
  * blocking-command tests (`pytests/test_call_async.py`): a blocking
  * pop from a background function resolves when another call pushes;
  * blocking is refused where the reference refuses it (sync calls and
  * atomic sections — isBlockAllowed=false). */
class BlockingSpec extends AnyFunSuite {

  test("list push/pop semantics match Redis (LPUSH head order, RPOP tail)") {
    val t = new StateTable
    t.lpush("l", "a", "b", "c") // head-insert each: list = c, b, a
    assert(t.lrange("l") == Seq("c", "b", "a"))
    assert(t.rpop("l").contains("a"))
    assert(t.lpop("l").contains("c"))
    assert(t.llen("l") == 1)
    t.rpush("l", "z")
    assert(t.lrange("l") == Seq("b", "z"))
    assert(t.del("l"))
    assert(!t.exists("l"))
  }

  test("lists survive snapshot/restore in order") {
    val spark = TestSpark.spark
    val t = new StateTable
    t.rpush("q", (1 to 5).map(_.toString): _*)
    t.set("plain", "v")
    val t2 = new StateTable
    t2.restore(t.snapshot(spark))
    assert(t2.lrange("q") == (1 to 5).map(_.toString))
    assert(t2.get("plain").contains("v"))
  }

  test("blpop blocks until a concurrent push arrives (C3)") {
    val e = new Engine(TestSpark.spark, executionThreads = 2)
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerAsyncFunction("consume", (ctx, _) =>
        ctx.blpop("queue", 30000).map(RespString).getOrElse(RespNull))
      b.registerFunction("produce", (ctx, args) => {
        RespLong(ctx.lpush("queue", args.head.asInstanceOf[RespString].v))
      })
    }))
    val fut = e.callAsync("lib", "consume")
    Thread.sleep(100) // let the consumer block first
    e.call("lib", "produce", Seq(RespString("payload")))
    // well inside blpop's own timeout: only the push's wake-up returns it this soon
    assert(Await.result(fut, 10.seconds) == RespString("payload"))
    e.close()
  }

  test("blpop wakes on a push made inside an atomic section") {
    val e = new Engine(TestSpark.spark, executionThreads = 2)
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerAsyncFunction("consume", (ctx, _) =>
        ctx.blpop("queue", 30000).map(RespString).getOrElse(RespNull))
      b.registerFunction("produce", (ctx, _) =>
        RespLong(ctx.atomic { x => x.set("last", "payload"); x.rpush("queue", "payload") }))
    }))
    val fut = e.callAsync("lib", "consume")
    Thread.sleep(100) // let the consumer block first
    assert(e.call("lib", "produce") == RespLong(1))
    // well inside blpop's own timeout: only the commit's wake-up returns it this soon
    assert(Await.result(fut, 10.seconds) == RespString("payload"))
    assert(e.state.llen("queue") == 0)
    e.close()
  }

  test("blpop times out to null when nothing arrives") {
    val e = new Engine(TestSpark.spark, executionThreads = 2)
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerAsyncFunction("consume", (ctx, _) =>
        ctx.blpop("empty", 100).map(RespString).getOrElse(RespNull))
    }))
    assert(Await.result(e.callAsync("lib", "consume"), 10.seconds) == RespNull)
    e.close()
  }

  test("blocking is refused in sync calls and atomic sections (C4 isBlockAllowed)") {
    val e = new Engine(TestSpark.spark, executionThreads = 2)
    e.load(LibraryDefinition("lib", code = { b =>
      b.registerFunction("sync_block", (ctx, _) => {
        assert(!ctx.isBlockAllowed) // inside the sync lock
        ctx.blpop("q", 10).map(RespString).getOrElse(RespNull)
      })
      b.registerAsyncFunction("atomic_block", (ctx, _) => {
        assert(ctx.isBlockAllowed) // background thread, lock not held
        ctx.atomic { _ => ctx.blpop("q", 10) } // held now -> refused
        RespNull
      })
    }))
    intercept[IllegalStateException](e.call("lib", "sync_block"))
    val ex = intercept[IllegalStateException] {
      Await.result(e.callAsync("lib", "atomic_block"), 10.seconds)
    }
    assert(ex.getMessage.contains("isBlockAllowed"))
    e.close()
  }
}
