package graft.spark

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** A call object's CallScratch gives every thread that evaluates it its
  * own scratch. Each call here is evaluated from 4 threads at once, each
  * over its own inputs; every row, read as soon as the call returns, must
  * equal a serial evaluation of an equal call. */
class CallScratchSpec extends AnyFunSuite {
  private val Threads = 4

  /** the row's values, doubles as their bits so NaN compares equal */
  private def values(r: InternalRow, t: StructType): Seq[Any] =
    r.toSeq(t).map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }

  /** `inputs(t)(i)` is row i of thread t; `eval` calls one call object */
  private def concurrentEqualsSerial(name: String, t: StructType, inputs: Seq[Seq[Array[Double]]],
                                     serial: Array[Double] => InternalRow,
                                     eval: Array[Double] => InternalRow): Unit = {
    val want = inputs.map(_.map(a => values(serial(a), t)))
    val pool = Executors.newFixedThreadPool(Threads)
    try {
      val start = new CyclicBarrier(Threads)
      val tasks = inputs.indices.map { k =>
        pool.submit(new Callable[Int] {
          def call(): Int = {
            start.await()
            inputs(k).indices.count(i => values(eval(inputs(k)(i)), t) != want(k)(i))
          }
        })
      }
      val wrong = tasks.map(_.get(5, TimeUnit.MINUTES))
      assert(wrong.forall(_ == 0), s"$name: rows unequal to the serial evaluation per thread: $wrong")
    } finally pool.shutdownNow()
  }

  private def lonLats(seed: Long, n: Int, lon: (Double, Double), lat: (Double, Double)) =
    (0 until Threads).map { k =>
      val rnd = new scala.util.Random(seed + k)
      Seq.fill(n)(Array(lon._1 + rnd.nextDouble() * (lon._2 - lon._1),
        lat._1 + rnd.nextDouble() * (lat._2 - lat._1)))
    }

  test("each thread's scratch is its own, and stays its own") {
    val trans = ProjTransCall("proj=webmerc ellps=WGS84", forward = true, degIO = true)
    def row(): AnyRef = trans.eval(1, 2, 0, 0)
    val mine = row()
    val pool = Executors.newSingleThreadExecutor()
    val theirs = try pool.submit(new Callable[(AnyRef, AnyRef)] {
      def call(): (AnyRef, AnyRef) = (row(), row())
    }).get() finally pool.shutdownNow()
    assert(row() eq mine)
    assert(theirs._1 eq theirs._2)
    assert(!(theirs._1 eq mine))
  }

  test("ProjTransCall") {
    val call = ProjTransCall("proj=utm zone=33 ellps=WGS84", forward = true, degIO = true)
    val ser = call.fresh.asInstanceOf[ProjTransCall]
    concurrentEqualsSerial("ProjTransCall", call.resultType, lonLats(1, 20000, (0, 30), (-80, 80)),
      a => ser.eval(a(0), a(1), 0, 0), a => call.eval(a(0), a(1), 0, 0))
  }

  test("UtmNativeCall") {
    val call = UtmNativeCall("WGS84")
    val ser = call.fresh.asInstanceOf[UtmNativeCall]
    concurrentEqualsSerial("UtmNativeCall", call.resultType, lonLats(2, 20000, (-180, 180), (-80, 84)),
      a => ser.eval(a(0), a(1)), a => call.eval(a(0), a(1)))
  }

  test("FactorsCall") {
    val call = FactorsCall("proj=merc ellps=WGS84")
    val ser = call.fresh.asInstanceOf[FactorsCall]
    concurrentEqualsSerial("FactorsCall", call.resultType, lonLats(3, 10000, (-180, 180), (-80, 80)),
      a => ser.eval(a(0), a(1)), a => call.eval(a(0), a(1)))
  }

  test("TransBoundsCall") {
    val call = TransBoundsCall("proj=utm zone=33 ellps=WGS84")
    val ser = call.fresh.asInstanceOf[TransBoundsCall]
    val boxes = lonLats(4, 1000, (9, 19), (-60, 60)).map(_.map(a => Array(a(0), a(1), a(0) + 1, a(1) + 1)))
    concurrentEqualsSerial("TransBoundsCall", call.resultType, boxes,
      a => ser.eval(a(0), a(1), a(2), a(3)), a => call.eval(a(0), a(1), a(2), a(3)))
  }

  test("CrsDispatchCall") {
    val call = CrsDispatchCall("EPSG:4230", "EPSG:4326")()
    val ser = call.fresh.asInstanceOf[CrsDispatchCall]
    concurrentEqualsSerial("CrsDispatchCall", call.resultType, lonLats(5, 5000, (-12, 35), (33, 72)),
      a => ser.eval(a(0), a(1)), a => call.eval(a(0), a(1)))
  }
}
