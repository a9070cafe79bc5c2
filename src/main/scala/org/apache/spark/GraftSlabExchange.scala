package org.apache.spark

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.rpc.{RpcCallContext, RpcEndpoint, RpcEnv}
import org.apache.spark.util.RpcUtils

/** A driver endpoint through which the tasks of one job, one per slab,
  * trade arrays with the driver in rounds: in each round every slab sends
  * one `Array[Double]`, the driver receives them indexed by slab and
  * answers every slab with one array. `RpcEnv`, `RpcEndpoint`,
  * `RpcUtils.makeDriverRef`, `sc.env` and `sc.maxNumConcurrentTasks` are
  * `private[spark]`.
  *
  * An answer may reach a task as the very array the driver passed (in
  * `local[N]` a message to the driver's own `RpcEnv` is not serialized),
  * so neither side may change an array once it has sent it.
  */
object GraftSlabExchange {

  /** How many tasks the session can run at once. */
  def slots(sc: SparkContext): Int =
    sc.maxNumConcurrentTasks(sc.resourceProfileManager.defaultResourceProfile)

  private val opened = new AtomicInteger
  private def endpointName(n: Int): String = s"graft-slab-exchange-$n"

  /** Registers the endpoint of a new exchange among `numSlabs` slabs. */
  def open(sc: SparkContext, numSlabs: Int): Exchange = {
    val name = endpointName(opened.getAndIncrement())
    val exchange = new Exchange(name, numSlabs, sc.env.rpcEnv)
    sc.env.rpcEnv.setupEndpoint(name, exchange)
    exchange
  }

  /** The names of the exchange endpoints that Spark's `RpcEnv` still
    * resolves. */
  def registered(sc: SparkContext): Seq[String] =
    (0 until opened.get).map(endpointName)
      .filter(name => Try(RpcUtils.makeDriverRef(name, sc.conf, sc.env.rpcEnv)).isSuccess)

  /** One slab's message of one round. */
  private final case class Offer(slab: Int, round: Int, x: Array[Double])

  /** The driver's side of one exchange, and its endpoint. The endpoint
    * handles messages on Spark's dispatcher threads and the driver calls
    * [[gather]], [[answer]] and [[fail]] on its own, so all state is
    * guarded by this object's lock.
    */
  final class Exchange private[GraftSlabExchange] (
      val name: String, numSlabs: Int, val rpcEnv: RpcEnv) extends RpcEndpoint {
    private var round = 0
    private val arrived = new Array[Array[Double]](numSlabs)
    private val callers = new Array[RpcCallContext](numSlabs)
    private var count = 0
    private var gathered = Promise[Array[Array[Double]]]()
    private var failure: Throwable = null

    override def receiveAndReply(context: RpcCallContext): PartialFunction[Any, Unit] = {
      case Offer(slab, r, x) => synchronized {
        if (failure == null && (r != round || callers(slab) != null))
          fail(new IllegalStateException(s"slab $slab offered round $r while the exchange " +
            s"is at round $round: a task was restarted, and a fit does not resume"))
        if (failure != null) context.sendFailure(failure)
        else {
          arrived(slab) = x; callers(slab) = context; count += 1
          if (count == numSlabs) gathered.success(arrived.clone())
        }
      }
    }

    /** Every slab's message of the current round, indexed by slab. Throws
      * the cause once the exchange has failed. */
    def gather(): Array[Array[Double]] =
      Await.result(synchronized(gathered).future, Duration.Inf)

    /** Answers every slab of the gathered round with `x`, and opens the
      * next round. */
    def answer(x: Array[Double]): Unit = synchronized {
      require(failure == null && count == numSlabs, s"round $round is not gathered")
      val pending = callers.clone()
      java.util.Arrays.fill(arrived.asInstanceOf[Array[AnyRef]], null)
      java.util.Arrays.fill(callers.asInstanceOf[Array[AnyRef]], null)
      count = 0; round += 1
      gathered = Promise()
      pending.foreach(_.reply(x))
    }

    /** Fails the exchange with `cause`: the driver's [[gather]], every
      * pending message and every later one get it. The first cause wins. */
    def fail(cause: Throwable): Unit = synchronized {
      if (failure == null) {
        failure = cause
        gathered.tryFailure(cause)
        callers.iterator.filter(_ != null).foreach(_.sendFailure(cause))
        java.util.Arrays.fill(callers.asInstanceOf[Array[AnyRef]], null)
      }
    }

    /** Unregisters the endpoint, failing whatever is still pending. */
    def close(): Unit = {
      fail(new IllegalStateException(s"exchange $name is closed"))
      rpcEnv.stop(self)
    }
  }

  /** A task's side of the exchange `name`, as slab `slab`. */
  final class Link(name: String, slab: Int) {
    private val context = TaskContext.get()
    private val driver = RpcUtils.makeDriverRef(name, SparkEnv.get.conf, SparkEnv.get.rpcEnv)
    private var round = 0

    /** Sends `x` as this slab's message of the next round and returns the
      * driver's answer. Waits on the answer itself, checking between waits
      * whether the task was killed; throws the exchange's failure. */
    def trade(x: Array[Double]): Array[Double] = {
      val reply = driver.ask[Array[Double]](Offer(slab, round, x), RpcUtils.INFINITE_TIMEOUT)
      round += 1
      while (!reply.isCompleted) {
        context.killTaskIfInterrupted()
        try Await.ready(reply, 1.second)
        catch { case _: TimeoutException => }
      }
      reply.value.get.get
    }
  }
}
