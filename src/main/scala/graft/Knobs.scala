package graft

/** Engine knob plumbing that must be touchable WITHOUT initializing the
  * constant objects it feeds. `GraftSession.build` supplies the
  * corpus-size hint that [[graft.functions.LshPlanes]] resolves its
  * geometry from, so the hint cannot live on `LshPlanes` itself: touching
  * it there would freeze the geometry before the hint exists.
  */
object Knobs {

  /** Validated integer env knob: unset → default, non-integer or
    * out-of-range → loud failure (a typo'd knob must not silently run the
    * default geometry at ×100).
    */
  def envInt(name: String, default: Int, lo: Int, hi: Int): Int =
    sys.env.get(name).map { raw =>
      val v = raw.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"$name must be an integer, got '$raw'"))
      require(v >= lo && v <= hi, s"$name must be in [$lo, $hi], got $v")
      v
    }.getOrElse(default)

  // ---- LSH geometry corpus hint ---------------------------------------
  //
  // The LSH plane tensor is a JVM-lifetime constant (oracle SQL, the
  // native expression, and every pipeline derive from it at first touch),
  // so the corpus-size hint must land BEFORE anything touches LshPlanes.
  // GraftSession.build sets it from the data dir's embeddings row count;
  // LshPlanes freezes it exactly once at its own init. A hint arriving
  // after the freeze is a programming-order bug — warn, never retro-size.

  @volatile private var lshRows: Option[Long] = None
  @volatile private var lshSkew: Option[Double] = None
  @volatile private var lshFrozen = false

  /** Record the embeddings corpus row count for geometry auto-sizing.
    * No-op (with a stderr warning) once the geometry has been frozen.
    */
  def sizeLshFor(rows: Long): Unit =
    if (lshFrozen)
      System.err.println(
        s"[graft] LSH geometry already frozen; ignoring corpus hint $rows")
    else lshRows = Some(rows)

  /** Record the MEASURED bucket-concentration factor
    * ([[graft.functions.LshSizing.measuredSkew]]) alongside the row
    * count — same freeze contract.
    */
  def sizeLshSkew(skew: Double): Unit =
    if (lshFrozen)
      System.err.println(
        s"[graft] LSH geometry already frozen; ignoring skew hint $skew")
    else lshSkew = Some(skew)

  /** One-shot read by LshPlanes' initializer. */
  private[graft] def freezeLshHint(): Option[(Long, Option[Double])] = {
    lshFrozen = true
    lshRows.map(n => (n, lshSkew))
  }
}
