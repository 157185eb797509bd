package graft.crawl

import org.apache.spark.sql.Dataset
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Failure

/** Owns every cache and local checkpoint one crawl wave makes, and the
  * concurrent legs that read them. [[WaveScope.using]] frees each handle
  * the way it was made (`unpersist` for a cache, the RDD blocks for a
  * checkpoint) once the wave ends — normally or by a throw — and only
  * after every forked leg has finished, so no running job loses its
  * input. A handle that must outlive the wave (a cross-wave carry) is
  * taken out with [[release]]; its new owner frees it. */
private[crawl] final class WaveScope {
  private var handles = Vector.empty[(Dataset[_], () => Unit)]
  private var legs = Vector.empty[Future[_]]

  private def own[T](ds: Dataset[T])(free: Dataset[T] => Unit): Dataset[T] =
    synchronized { handles :+= (ds -> (() => free(ds))); ds }

  def cache[T](ds: Dataset[T]): Dataset[T] = own(ds.cache())(_.unpersist())

  def checkpoint[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    own(ds.localCheckpoint(eager))(CrawlEngine.freeCheckpoint)

  /** Hand `ds` out of the scope: it is no longer freed at wave end. */
  def release[T](ds: Dataset[T]): Dataset[T] =
    synchronized { handles = handles.filterNot(_._1 eq ds); ds }

  /** Run `body` as a concurrent leg of the wave. */
  def fork[T](body: => T): Future[T] = synchronized {
    val f = Future(body)(ExecutionContext.global)
    legs :+= f
    f
  }

  private def settle(): Vector[Future[_]] = {
    val fs = synchronized(legs)
    fs.foreach(Await.ready(_, Duration.Inf))
    fs
  }

  /** Wait for every leg; then rethrow the first leg's failure, if any. */
  def join(): Unit =
    settle().flatMap(_.value).collectFirst { case Failure(e) => e }.foreach(e => throw e)
}

private[crawl] object WaveScope {
  /** Run `body` with a fresh scope; when it returns or throws, wait for
    * its legs, then free every handle it still owns. */
  def using[T](body: WaveScope => T): T = {
    val scope = new WaveScope
    try body(scope)
    finally {
      scope.settle()
      scope.synchronized(scope.handles).foreach(_._2())
    }
  }
}
