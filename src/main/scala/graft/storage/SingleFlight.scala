package graft.storage

/** One flight per key in this JVM: a caller of `apply(key)` waits while
  * another caller runs a body under an equal key, then runs its own,
  * which finds the first one's result (a committed store, a memoized
  * schema) and serves it instead of deriving it again. Callers on
  * different keys never wait for each other.
  *
  * A key's lock exists only while some caller holds or awaits it, so the
  * map stays as small as the number of concurrent callers. Bodies may
  * take further keys; that cannot deadlock as long as every caller takes
  * them in one order, which store builds do: a store's build only
  * ensures its inputs, so nested keys follow the store DAG. Callers in
  * other JVMs are not seen here; they meet at the commit protocol
  * ([[Generations.commitOnce]]).
  */
private[storage] object SingleFlight {

  private final class Flight { var callers = 0 }

  private val flights = new java.util.HashMap[Any, Flight]()

  def apply[A](key: Any)(body: => A): A = {
    val f = flights.synchronized {
      val f = flights.computeIfAbsent(key, _ => new Flight)
      f.callers += 1
      f
    }
    try f.synchronized(body)
    finally flights.synchronized {
      f.callers -= 1
      if (f.callers == 0) flights.remove(key)
    }
  }
}
