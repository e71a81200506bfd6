package graft.streaming

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** Commit fault injection: the one seam through which a spec (or a
  * drill query) runs code at a named point of one store's commit. A
  * no-op unless something is armed.
  *
  * A point is addressed by a [[Site]]: the store's dir, the store's
  * commit ordinal, and the point. Ordinals count each store's commits
  * from 1, starting when the arming is made; a commit is one
  * [[CdcStream]] publish or one prepared-version flip, and its ordinal
  * is taken at its `entry`. Commits to one store serialize under its
  * lock, so a store's ordinal names the same commit on every run,
  * however its sibling stores' commits interleave.
  *
  * The points, in commit order:
  *  - `stage`: an eager commit's Spark jobs are done, nothing is
  *    published (addressed by the ordinal its publish will take);
  *  - `entry`: publish entry, nothing claimed;
  *  - `lockBreak`: between a stale lock's token read and its
  *    aside-rename;
  *  - `claim`: the version dir is at its final name, the pointer is
  *    not flipped — an unpublished orphan if the writer dies here;
  *  - `post`: the pointer flipped, cleanup not run.
  */
private[graft] object CommitFaults {

  val Stage = "stage"
  val Entry = "entry"
  val LockBreak = "lockBreak"
  val Claim = "claim"
  val Post = "post"

  final case class Site(store: String, ordinal: Int, point: String)

  /** The key a store dir is armed under: absolute and normalized. */
  def storeKey(dir: String): String =
    Paths.get(dir).toAbsolutePath.normalize.toString

  /** One arming: its own per-store ordinals, the sites it has seen, and
    * the actions still to run (each at most once). `store` None arms
    * every store.
    */
  final class Arming private[CommitFaults] (store: Option[String],
      actions: Map[Site, () => Unit]) {
    private val ordinals = new ConcurrentHashMap[String, AtomicInteger]()
    private val pending = ConcurrentHashMap.newKeySet[Site]()
    actions.keys.foreach(pending.add)
    private[CommitFaults] val seen = new ConcurrentLinkedQueue[Site]()

    private[CommitFaults] def hit(key: String, point: String): Unit =
      if (store.forall(_ == key)) {
        val count = ordinals.computeIfAbsent(key, _ => new AtomicInteger())
        val site = Site(key, point match {
          case Entry => count.incrementAndGet()
          case Stage => count.get + 1
          case _ => count.get
        }, point)
        seen.add(site)
        if (pending.remove(site)) actions(site)()
      }

    def disarm(): Unit = { armings.remove(this); () }
  }

  private val armings = new CopyOnWriteArrayList[Arming]()

  /** Called by the commit paths at each point. */
  def hit(storeDir: String, point: String): Unit =
    if (!armings.isEmpty) {
      val key = storeKey(storeDir)
      armings.forEach(_.hit(key, point))
    }

  /** Run `action` once, at `point` of the `ordinal`-th commit to
    * `storeDir` from now. Disarm the returned arming when done.
    */
  def arm(storeDir: String, ordinal: Int, point: String)(
      action: => Unit): Arming = {
    val key = storeKey(storeDir)
    val a = new Arming(Some(key), Map(Site(key, ordinal, point) -> (() => action)))
    armings.add(a)
    a
  }

  /** Every site any store's commits hit while `body` runs, in order. */
  def record(body: => Unit): Seq[Site] = {
    val a = new Arming(None, Map.empty)
    armings.add(a)
    try body finally a.disarm()
    a.seen.asScala.toSeq
  }

  /** A deterministic mid-commit kill: the `n`-th commit to `storeDir`
    * from now throws at its claim — version dir renamed, pointer not
    * flipped, a genuinely torn commit — whatever the host's speed or
    * the interleaving of other stores' commits. Returns the disarm.
    */
  def armClaimKill(storeDir: String, n: Int): () => Unit = {
    val a = arm(storeDir, n, Claim)(throw new RuntimeException(
      s"[test] injected mid-commit kill at claim of commit #$n to $storeDir"))
    () => a.disarm()
  }
}
