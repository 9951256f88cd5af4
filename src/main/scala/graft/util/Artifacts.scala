package graft.util

/** The one holder for what the catalog builds once and reuses while warm:
  * fitted indexes, persisted corpora, checkpointed graph frames, nested
  * assemblies and the operators' held results. Each key names its owner
  * first, so a caller that knows a family is done releases it with one
  * prefix [[drain]]; a drained artifact is rebuilt on its next use.
  *
  * Locking is per key: the registry's own lock is held only to look up,
  * publish or remove, never while `build` runs, so a slow build blocks
  * only callers of the same key and builds may nest (a build may call
  * `getOrBuild` for another key). Bench's parallel warm-up relies on
  * both. */
object Artifacts {

  /** `name` starts with the owner, up to the first '.': the entry family
    * whose end releases the artifact (`q_graph.recent_edges`), or
    * [[graft.ops.Pinned.HoldPrefix]] for held operator results. `parts`
    * are the session, the dir and every fit parameter, so a call with
    * other parameters builds its own entry. Keys that share a `name`
    * share one capacity. */
  final case class Key(name: String, parts: Any*)

  private final class Cell(val key: Key) {
    @volatile var state = 0 // 0 building, 1 live, 2 gone
    var value: Any = _
    var release: Any => Unit = _
  }

  // access order: iteration runs from the least recently used entry
  private val cells = new java.util.LinkedHashMap[Key, Cell](16, 0.75f, true)

  /** The live value under `key`, else `build` it, once however many
    * threads ask. A build that throws leaves no entry. Publishing evicts
    * the least recently used live entries beyond `capacity` among the
    * keys with this key's name, and releases them. */
  def getOrBuild[T](key: Key, capacity: Int = 1)(build: => T)(release: T => Unit): T = {
    var out: Option[T] = None
    while (out.isEmpty) {
      val cell = cells.synchronized(cells.computeIfAbsent(key, k => new Cell(k)))
      out = cell.synchronized {
        if (cell.state == 1) Some(cell.value.asInstanceOf[T])
        else if (cell.state == 2) None // drained or failed meanwhile: look up again
        else {
          val v = try build catch { case e: Throwable =>
            cells.synchronized { cell.state = 2; cells.remove(key, cell) }; throw e
          }
          val evicted = cells.synchronized {
            cell.value = v; cell.release = release.asInstanceOf[Any => Unit]; cell.state = 1
            cells.get(key) // most recently used
            val same = new scala.collection.mutable.ArrayBuffer[Cell]()
            cells.values.forEach(c => if (c.state == 1 && c.key.name == key.name) same += c)
            same.take(same.size - capacity).map(retire).toSeq
          }
          releaseAll(evicted)
          Some(v)
        }
      }
    }
    out.get
  }

  /** Replace the value under `key`, releasing the one it supersedes. */
  def put[T](key: Key, value: T)(release: T => Unit): Unit = {
    val prev = cells.synchronized {
      val c = new Cell(key)
      c.value = value; c.release = release.asInstanceOf[Any => Unit]; c.state = 1
      Option(cells.put(key, c)).filter(p => p.state == 1 && p.value != value).map { p =>
        p.state = 2; p
      }
    }
    releaseAll(prev.toSeq)
  }

  /** Remove and release every live entry whose name starts with `prefix`.
    * Builds still running are left to publish. */
  def drain(prefix: String): Unit = releaseAll(cells.synchronized(live(prefix).map(retire)))

  /** The live keys whose name starts with `prefix`. */
  def keys(prefix: String): Seq[Key] = cells.synchronized(live(prefix).map(_.key))

  private def live(prefix: String): Seq[Cell] = {
    val out = new scala.collection.mutable.ArrayBuffer[Cell]()
    cells.values.forEach(c => if (c.state == 1 && c.key.name.startsWith(prefix)) out += c)
    out.toSeq
  }

  private def retire(c: Cell): Cell = { cells.remove(c.key, c); c.state = 2; c }

  private def releaseAll(cs: Seq[Cell]): Unit =
    cs.foreach(c => try c.release(c.value) catch { case scala.util.control.NonFatal(_) => () })
}
