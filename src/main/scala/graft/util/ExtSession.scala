package graft.util

import org.apache.spark.sql.SparkSession

/** A session carrying the library's [[graft.GraftExtensions]] (the
  * injected parser, the row-level DML rules, the SQL functions) on a
  * LIVE SparkContext — the runtime route for callers whose session the
  * library didn't build. `spark.sql.extensions` is a STATIC conf read
  * at session construction, so it cannot be set on an existing
  * session; the documented programmatic equivalent is
  * `Builder.withExtensions(new GraftExtensions)`, which this helper
  * applies while sharing the caller's SparkContext (and therefore its
  * executors, caches, and listener bus). The caller's RUNTIME SQL
  * confs (ANSI mode, caseSensitive, session timezone, registered
  * catalogs) copy onto the derived session at derivation time, so
  * row-level SQL run through it behaves like the caller's own
  * session would. Cached per context: repeated calls return the same
  * session — the general conf snapshot is the FIRST caller's (set
  * later ones on the derived session directly, as the gated queries
  * do), except catalog definitions ([[mirrorCatalogs]]) and the
  * semantics-bearing allowlist ([[mirrorSemantics]]: ANSI mode,
  * caseSensitive, session timezone), which mirror on every
  * access. The caller's
  * active/default session registration is restored, so the derived
  * session never leaks into unrelated `SparkSession.active` lookups
  * (the clear-then-restore does open a brief window in which a
  * CONCURRENT thread's `SparkSession.active` fallback sees no
  * default — first-derivation-only, and the engine's own
  * concurrency specs run through already-derived sessions). */
object ExtSession {

  @volatile private var cached: SparkSession = _

  /** catalog definitions (spark.sql.catalog.*) are not "modifiable"
    * by Spark's conf taxonomy but ARE honored as session confs —
    * mirror the base's onto the derived session on EVERY access, so
    * a catalog registered on the caller after the first derivation
    * still resolves through the derived session (the round-16
    * advisor's gap). Existing keys never overwrite: the derived
    * session may have re-pointed a warehouse deliberately. */
  private def mirrorCatalogs(base: SparkSession,
                             derived: SparkSession): Unit =
    base.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.catalog.") &&
          derived.conf.getOption(k).isEmpty)
        derived.conf.set(k, v)
    }

  /** SEMANTICS-bearing runtime confs mirror base→derived on EVERY
    * access, not just at first derivation (round-17 advisor): a
    * caller flipping e.g. ANSI mode or the session timezone after the
    * derived session exists would otherwise get silently divergent
    * row-level SQL semantics through it. Unlike catalogs these
    * OVERWRITE on divergence — the derived session's contract is "the
    * caller's semantics plus the extensions", and nothing in the
    * engine sets them derived-side (the query mains set them at base
    * builder time). */
  private val SemanticsConfs = Seq(
    "spark.sql.ansi.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.session.timeZone")

  private def mirrorSemantics(base: SparkSession,
                              derived: SparkSession): Unit =
    SemanticsConfs.foreach { k =>
      base.conf.getOption(k).foreach { v =>
        if (!derived.conf.getOption(k).contains(v))
          derived.conf.set(k, v)
      }
    }

  def apply(base: SparkSession): SparkSession = synchronized {
    val c = cached
    if (c != null && c.sparkContext == base.sparkContext &&
        !c.sparkContext.isStopped) {
      mirrorCatalogs(base, c)
      mirrorSemantics(base, c)
      return c
    }
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder()
        .master(base.sparkContext.master)
        .withExtensions(new graft.GraftExtensions())
      // runtime SQL confs carry over (static ones are no-ops on a
      // live context and skipped); core spark.* settings ride
      // the shared SparkContext already
      base.conf.getAll.foreach { case (k, v) =>
        if (k.startsWith("spark.sql.") &&
            base.conf.isModifiable(k)) b.config(k, v)
      }
      cached = b.getOrCreate()
      mirrorCatalogs(base, cached)
      mirrorSemantics(base, cached)
      cached
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
