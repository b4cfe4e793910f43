package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicReference

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.datasketches.memory.Memory
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphLocal
import graft.operators.GraphLocal.Gates

/** The local-endgame size gates and the one negative result that keeps
  * q97 off the driver-local path. */
class GraphLocalSpec extends AnyFunSuite {

  test("gates: defaults are the one MaxEdges constant") {
    assert(GraphLocal.gates == Gates())
    assert(Gates().productIterator.forall(_ == GraphLocal.MaxEdges))
    assert(GraphLocal.MaxEdges == (1L << 22))
  }

  test("gates: a withGates block is undone when it throws, and nests") {
    intercept[IllegalStateException] {
      GraphLocal.withGates(Gates(graph = 0L)) {
        assert(GraphLocal.gates.graph == 0L)
        GraphLocal.withGates(GraphLocal.Distributed) {
          assert(GraphLocal.gates == GraphLocal.Distributed)
        }
        assert(GraphLocal.gates == Gates(graph = 0L))
        throw new IllegalStateException("boom")
      }
    }
    assert(GraphLocal.gates == Gates())
  }

  test("gates: a thread started outside the block sees the default gates") {
    val entered = new CountDownLatch(1)
    val read = new CountDownLatch(1)
    val seen = new AtomicReference[Gates]()
    val t = new Thread(() => {
      entered.await()
      seen.set(GraphLocal.gates)
      read.countDown()
    })
    t.start()
    GraphLocal.withGates(GraphLocal.Distributed) {
      entered.countDown()
      read.await() // the other thread reads while this block is open
      assert(GraphLocal.gates == GraphLocal.Distributed)
    }
    t.join()
    assert(seen.get == Gates())
  }

  // Why q97 (HyperANF) has no driver-local endgame: a DataSketches HLL
  // union's estimate depends on the fold structure and order, so no
  // driver replay can match the distributed partial-agg tree bit for
  // bit.
  test("hll union estimate depends on fold order (q97 stays distributed)") {
    def sketch(xs: Seq[Long]): Array[Byte] = {
      val h = new HllSketch(10, TgtHllType.HLL_8)
      xs.foreach(h.update)
      h.toUpdatableByteArray
    }
    def fold(bs: Seq[Array[Byte]]): Array[Byte] = {
      val u = new Union(10)
      bs.foreach(b => u.update(HllSketch.wrap(Memory.wrap(b))))
      u.toUpdatableByteArray
    }
    def est(b: Array[Byte]): Long =
      math.round(HllSketch.heapify(Memory.wrap(b)).getEstimate)
    val singles = (1L to 600L).map(x => sketch(Seq(x)))
    val flat = est(fold(singles))
    val twoLevel = est(fold(singles.grouped(150).map(fold).toSeq))
    val reversed = est(fold(singles.reverse))
    assert((flat, twoLevel, reversed) == ((592L, 585L, 586L)))
  }
}
