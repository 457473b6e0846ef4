package graft

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

/** Independent blocking driver-side calls (Spark actions, SQL parses)
  * run side by side on a pool that each call owns. A call never borrows
  * a shared pool, so it finishes however busy the global
  * ExecutionContext is, and its threads stop when it returns. */
object Fanout {

  /** `f` over `xs` on at most one thread per core, the results in `xs`
    * order. The first failure, in `xs` order, is rethrown, and calls not
    * yet started are dropped. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val threads = Runtime.getRuntime.availableProcessors()
    if (xs.lengthCompare(1) <= 0 || threads <= 1) xs.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(threads, xs.length), daemons)
      try {
        val calls = xs.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
        calls.map { c =>
          try c.get()
          catch { case e: ExecutionException => throw e.getCause }
        }
      } finally pool.shutdownNow()
    }
  }

  private val daemons: ThreadFactory = { r =>
    val t = new Thread(r, "graft-fanout")
    t.setDaemon(true)
    t
  }
}
