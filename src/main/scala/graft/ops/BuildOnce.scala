package graft.ops

/** Build-once-per-JVM guard for session-scoped materialized artifacts
  * (the IVF/PQ/lexical indexes, the JSON-lines ingestion fixture).
  *
  * `computeIfAbsent` — not `putIfAbsent` — because the two differ
  * exactly where concurrency bites: with putIfAbsent a LOSER of the
  * insertion race returns immediately and may read an artifact the
  * winner is still writing. computeIfAbsent's contract makes the
  * mapping-function invocation atomic per key: concurrent callers for
  * the same path BLOCK until the winner's build completes, and a build
  * that THROWS records nothing (the next caller retries rather than
  * trusting a half-written artifact). Harmless under the sequential
  * driver harness; required for concurrent sessions sharing one JVM.
  */
object BuildOnce {

  private val built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run `build` exactly once per `path` in this JVM; every caller —
    * including losers of the race — returns only after the build has
    * completed. `tag` identifies the input (here: the corpus dir);
    * re-ensuring the same path for a DIFFERENT tag throws, so two
    * corpora can never silently share one artifact.
    *
    * A build that THROWS records nothing, and the NEXT caller's retry
    * starts by clearing whatever partial files the failed attempt left
    * (scratch paths are JVM-local temp dirs, so nothing outside this
    * process can hold a reference): the Materialize writers are
    * write-once (they refuse an existing target — the shared-path
    * serving discipline), so without this sweep a single failed build
    * would wedge every later from-index call in the JVM. Because that
    * sweep DELETES, ensure refuses any path outside [[Scratch]]'s
    * per-JVM root up front — a durable artifact path routed through
    * here would get its previous cycle silently destroyed on the
    * JVM's first call; durable refreshes go through the write-once
    * Materialize writers + a conf pointer flip, never this cache. */
  def ensure(path: String, tag: String)(build: => Unit): Unit = {
    require(Scratch.owns(path),
      s"BuildOnce.ensure is for JVM-local scratch paths only; $path " +
        "is outside the scratch root (a durable artifact must use the " +
        "write-once Materialize writers + a new path per cycle)")
    val got = built.computeIfAbsent(path, _ => {
      Scratch.delete(new java.io.File(path))
      build; tag
    })
    require(got == tag,
      s"scratch artifact at $path was built for $got, requested for $tag")
  }

  /** Scratch path for artifact `kind` over corpus `dir`, keyed on the
    * md5 of the FULL dir (not hashCode — colliding hashCodes of two
    * dirs must not silently share an artifact). */
  def scratchPath(kind: String, dir: String): String = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Scratch.dir(kind + "-" + key)
  }
}
