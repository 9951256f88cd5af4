package graft.jx

/**
 * JxExpr → ANSI SQL, mirroring [[JxCompiler]]'s null-semantics contract
 * (reference: vendor/jx_base/expressions.py:999-1014,1042-1043,1740-1756)
 * as an INDEPENDENT render target — the analog of the reference's
 * `to_sql` compiler (vendor/jx_sqlite/expressions.py), used by the
 * differential expression fuzzer ([[JxFuzz]]):
 *
 *   - at the driver's correctness gate, the DuckDB dialect of this
 *     translation runs as the oracle for the generated q_fuzz_* entries,
 *     so the Column compiler is checked against a SECOND ENGINE's
 *     evaluation of the same semantics;
 *   - in the test suite, the Spark dialect runs through `spark.sql` and
 *     is compared to the compiled Column on the same rows, pinning
 *     compiler ≡ translation inside one engine for ≥500 generated trees.
 *
 * The semantic skeleton (eq decisive via null-safe equality, ne never
 * missing, missing-inequality → FALSE, boolean context missing → FALSE,
 * nulls:true arithmetic with neutral elements, /0 → missing) is shared
 * verbatim across dialects; only function NAMES that genuinely differ
 * (null-safe equality spelling, substring search, full-match regex,
 * double→integer truncation) go through the [[Dialect]] seam.
 *
 * This translator intentionally covers the FUZZED subset of the
 * registry — it throws on expressions outside it rather than guessing.
 */
object JxSql {
  import JxExpr._

  /** Unsealed (r12) so diagnostic harnesses can instantiate variant
    * dialects (e.g. the IEEE-division simulator that adjudicated the
    * q_fuzz_expr_b4 driver divergence) without touching the two
    * production objects. */
  trait Dialect {
    /** Null-safe equality rendering. */
    def eqNullSafe(a: String, b: String): String
    /** 1-based position of literal `sub` in `s`, 0 when absent. */
    def strpos(s: String, sub: String): String
    /** Full-string regex match of RAW pattern `rawPat` against `s`. */
    def regexpFullMatch(s: String, rawPat: String): String
    /** The dialect's spelling of the string type in CAST. */
    def stringType: String
    /** Timestamp → DOUBLE epoch seconds (the compiler's UnixOp is a
      * double cast, which DuckDB's CAST cannot do on timestamps). */
    def epochSeconds(ts: String): String
    /** DOUBLE epoch seconds → timestamp (FromUnixOp). */
    def toTimestamp(sec: String): String
    /** LITERAL-split `s` into an array (the jx_python contract, r12 —
      * see JxExpr.SplitOp; both engines keep trailing empties and
      * split on every occurrence, NULL in → NULL array). `raw` is the
      * RAW pattern string — DuckDB has a native literal split, the
      * Spark dialect regex-quotes into its regex-based `split`
      * (exactly what the compiler does, so the in-suite law pins the
      * quoting). Dropping string_split_regex from the DuckDB oracle
      * also removes a whole engine-version seam from the driver gate. */
    def splitLiteral(s: String, raw: String): String
    /** Interpolated median aggregate (NULLs ignored, linear
      * interpolation at even counts — both engines agree exactly on
      * integer inputs). Usable over window frames. */
    def medianCont(x: String): String
    /** 1-based array element, NULL when out of bounds. `n` must be an
      * already-rendered POSITIVE integer literal: index 0 DIVERGES
      * (Spark's try_element_at throws INVALID_INDEX_OF_ZERO at
      * runtime, DuckDB's list_extract returns NULL) and negative
      * indexes are an engine-version seam we no longer need — the r13
      * listwrap contract (FlatList.__getitem__, mo_dots lists.py:69)
      * makes every negative GetOp index missing, so the renderer only
      * ever emits i+1 for JX i ≥ 0, plus the fixed -1 that LastOp
      * keeps (FlatList.last(), lists.py:238-245 — count-from-the-end
      * in both engines for that one literal). */
    def elementAt(arr: String, n: String): String
    /** Division with the zero divisor excluded BEFORE the divide.
      * The JX contract is /0 → missing (the compiler uses Spark's
      * try_divide), and the pre-r12 rendering relied on the engine's
      * own divide-by-zero → NULL — which is a VERSION BOUNDARY in
      * DuckDB: 1.1.0 switched bare float division to IEEE-754
      * semantics (x/0 → ±inf, 0/0 → NaN; "Breaking SQL changes",
      * DuckDB 1.1.0 release notes), so the same SQL means different
      * values on either side of 1.1.0. NULLIF-guarding the divisor
      * renders identically-NULL on every engine version. Adjudication
      * note (r12): an IEEE simulation on local DuckDB 1.0.0 showed
      * bare-division trees in ALL FOUR fuzz blocks would diverge (or
      * error on the BIGINT casts) under a ≥1.1 oracle — which both
      * RULES OUT a ≥1.1 driver as the cause of the r11 b4-only red
      * row (b1–b3 were green there) and makes this guard the cheap
      * insurance that keeps the gate portable if the driver's engine
      * ever crosses that boundary. The guard is value-preserving at
      * 1.0.0 (probe-verified: zero value changes across all 500
      * trees). */
    def div(a: String, b: String): String =
      s"(CAST($a AS DOUBLE) / NULLIF(CAST($b AS DOUBLE), 0.0))"
    /** Modulo with the same guarded-divisor treatment as [[div]]:
      * float fmod(x, 0) is NaN under IEEE-754 but NULL pre-1.1, so
      * the zero case is excluded before the engine sees it. Operand
      * types are preserved (NULLIF(int, 0) stays int → int % int
      * stays int in both engines). */
    def mod(a: String, b: String): String = s"($a % NULLIF($b, 0))"
    /** n-ary maximum/minimum over scalars. Both production engines at
      * the pinned local versions SKIP NULL arguments (Spark's
      * greatest/least are documented null-skipping; DuckDB 1.0.0
      * matches — probe: LEAST(NULL, 3, NULL) = 3). The seam exists so
      * diagnostic harnesses can instantiate a NULL-PROPAGATING variant
      * (the other documented engine family: any-NULL → NULL) and
      * measure which gate cells that boundary flips — the r15
      * adjudication of the b1a5/b2b1 driver reds (see FuzzVariantMain
      * and COVERAGE.md §2.7). The default renders exactly what both
      * sides always rendered. */
    def greatest(args: Seq[String]): String = s"GREATEST(${args.mkString(", ")})"
    def least(args: Seq[String]): String = s"LEAST(${args.mkString(", ")})"
    /** Exponentiation. For LITERAL integer exponents 2 and 3 (the only
      * exponents the fuzzer draws, and the common real-query case) the
      * default is repeated multiplication in doubles — IEEE-754
      * multiply is exactly rounded on every engine, so the value is
      * BIT-IDENTICAL across engines and libm versions, unlike POW
      * (libm carries a ≤1-ulp license that differs between the JVM's
      * Math.pow and whatever libm the oracle engine links — the r13
      * driver-divergence class: a 1-ulp pow drift upstream of a
      * comparison/floor/mod/when flips a DISCRETE decision and changes
      * the output arbitrarily, which no output-cell rendering-boundary
      * audit can see; the r14 whole-tree ulp audit in COVERAGE.md §2.7
      * measured exactly that sensitivity).
      * The double cast mirrors POW's double-returning contract (so the
      * pin changes no types), and `x*x*x` associates left in both
      * engines. General exponents keep POW, with the cross-libm caveat
      * documented here. */
    def pow(base: String, expSql: String, litExp: Option[Long]): String = litExp match {
      case Some(2L) =>
        val b = s"CAST($base AS DOUBLE)"
        s"($b * $b)"
      case Some(3L) =>
        val b = s"CAST($base AS DOUBLE)"
        s"($b * $b * $b)"
      case _ => s"POW($base, $expSql)"
    }
  }

  /** DuckDB: the driver's oracle engine. */
  case object DuckDb extends Dialect {
    def eqNullSafe(a: String, b: String) = s"($a IS NOT DISTINCT FROM $b)"
    def strpos(s: String, sub: String) = s"strpos($s, $sub)"
    def regexpFullMatch(s: String, rawPat: String) =
      s"regexp_full_match($s, ${litSql(rawPat)})"
    val stringType = "VARCHAR"
    def epochSeconds(ts: String) = s"epoch($ts)" // returns DOUBLE
    def toTimestamp(sec: String) = s"to_timestamp($sec)"
    def splitLiteral(s: String, raw: String) = s"string_split($s, ${litSql(raw)})"
    def elementAt(arr: String, n: String) = s"list_extract($arr, $n)"
    def medianCont(x: String) = s"quantile_cont($x, 0.5)"
  }

  /** Spark SQL: the in-suite differential target. */
  case object SparkSql extends Dialect {
    def eqNullSafe(a: String, b: String) = s"($a <=> $b)"
    def strpos(s: String, sub: String) = s"locate($sub, $s)"
    def regexpFullMatch(s: String, rawPat: String) =
      s"regexp_like($s, ${litSql("^(?:" + rawPat + ")" + "$")})"
    val stringType = "STRING"
    def epochSeconds(ts: String) = s"CAST($ts AS DOUBLE)"
    def toTimestamp(sec: String) = s"timestamp_seconds($sec)"
    def splitLiteral(s: String, raw: String) = {
      // regex-quote (the compiler's exact transform), then render as a
      // Spark string literal — Spark's default parser treats backslash
      // as an escape inside literals, so the quoting backslashes are
      // doubled here (the one place the litSql backslash invariant is
      // deliberately bypassed, for strings this dialect itself built)
      val q = JxExpr.regexQuote(raw)
      val sparkLit = "'" + q.replace("\\", "\\\\").replace("'", "''") + "'"
      s"split($s, $sparkLit)"
    }
    def elementAt(arr: String, n: String) = s"try_element_at($arr, $n)"
    def medianCont(x: String) = s"percentile($x, 0.5D)"
  }

  def litSql(v: Any): String = v match {
    case null       => "NULL"
    case s: String  =>
      // ENFORCED, not conventional (review r11): Spark's default dialect
      // treats backslash as an escape inside string literals, DuckDB does
      // not — a backslash-bearing literal (or regex pattern, which routes
      // through here) would silently mean different strings to the two
      // engines and corrupt the differential oracle. The generator's
      // pools contain none today; this require keeps that a checked
      // invariant. Widening to backslashes needs per-dialect escaping.
      require(!s.contains('\\'),
        s"litSql: backslash literals are dialect-divergent (Spark escapes, DuckDB doesn't): $s")
      "'" + s.replace("'", "''") + "'"
    case l: Long    => l.toString
    case i: Int     => i.toString
    case d: Double  =>
      require(!d.isNaN && !d.isInfinity, s"non-finite literal: $d")
      // decimal-exact rendering both engines parse to the same double
      new java.math.BigDecimal(d).toPlainString
    case b: Boolean => if (b) "TRUE" else "FALSE"
    case other => throw new IllegalArgumentException(s"unsupported literal: $other")
  }

  /** Boolean context (mirrors [[JxCompiler.truthy]]): missing → FALSE,
    * with the identical never-null shortlist left bare. */
  def truthy(e: JxExpr, d: Dialect): String = e match {
    case _: EqOp | _: NeOp | _: InequalityOp | _: MissingOp | _: ExistsOp |
         _: AndOp | _: OrOp | _: NotOp | TrueOp | FalseOp | _: PrefixOp | _: SuffixOp =>
      sql(e, d)
    case other => s"COALESCE(${sql(other, d)}, FALSE)"
  }

  private def withDefault(c: String, default: JxExpr, d: Dialect): String = default match {
    case NullOp => c
    case dd     => s"COALESCE($c, ${sql(dd, d)})"
  }

  def sql(e: JxExpr, d: Dialect): String = e match {
    // ---- leaves ----------------------------------------------------------
    case Variable(name) =>
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"variable: $name")
      name
    case Lit(items: Seq[_]) =>
      throw new IllegalArgumentException("list literal only valid under `in`")
    case Lit(v)  => litSql(v)
    case NullOp  => "NULL"
    case TrueOp  => "TRUE"
    case FalseOp => "FALSE"

    // ---- boolean / comparison -------------------------------------------
    case AndOp(Nil)   => "TRUE"
    case AndOp(terms) => terms.map(truthy(_, d)).mkString("(", " AND ", ")")
    case OrOp(Nil)    => "FALSE"
    case OrOp(terms)  => terms.map(truthy(_, d)).mkString("(", " OR ", ")")
    case NotOp(t)     => s"(NOT ${truthy(t, d)})"
    case EqOp(l, r)   => d.eqNullSafe(sql(l, d), sql(r, d))
    case NeOp(l, r)   => s"(NOT ${d.eqNullSafe(sql(l, d), sql(r, d))})"
    case InequalityOp(op, l, r) =>
      val cmp = op match {
        case "gt" => ">"; case "gte" => ">="; case "lt" => "<"; case "lte" => "<="
      }
      s"COALESCE((${sql(l, d)} $cmp ${sql(r, d)}), FALSE)"
    case InOp(v, Lit(items: Seq[_])) if items.contains(null) =>
      // Python membership: a NULL member matches a missing value
      // (mirrors JxCompiler's null-bearing arm, r12)
      val nonNull = items.filterNot(_ == null)
      val rest =
        if (nonNull.isEmpty) "FALSE"
        else s"COALESCE((${sql(v, d)} IN (${nonNull.map(litSql).mkString(", ")})), FALSE)"
      s"(CASE WHEN ${sql(v, d)} IS NULL THEN TRUE ELSE $rest END)"
    case InOp(v, Lit(items: Seq[_])) =>
      s"COALESCE((${sql(v, d)} IN (${items.map(litSql).mkString(", ")})), FALSE)"
    case MissingOp(t) => s"(${sql(t, d)} IS NULL)"
    case ExistsOp(t)  => s"(${sql(t, d)} IS NOT NULL)"

    // ---- arithmetic ------------------------------------------------------
    case MultiOp(op, terms, nulls, default) =>
      val cols = terms.map(sql(_, d))
      val sym = op match { case "add" => "+"; case "mul" => "*" }
      if (!nulls) withDefault(cols.mkString("(", s" $sym ", ")"), default, d)
      else {
        val neutral = if (op == "add") "0" else "1"
        val body = cols.map(c => s"COALESCE($c, $neutral)").mkString("(", s" $sym ", ")")
        val allMissing = cols.map(c => s"$c IS NULL").mkString(" AND ")
        val dflt = default match { case NullOp => "NULL"; case dd => sql(dd, d) }
        s"(CASE WHEN $allMissing THEN $dflt ELSE $body END)"
      }
    case BinaryOp(op, l, r, default) =>
      val (a, b) = (sql(l, d), sql(r, d))
      val res = op match {
        case "sub" => s"($a - $b)"
        case "exp" =>
          // literal small-int exponents render libm-free (seam doc)
          d.pow(a, b, r match { case Lit(n: Long) => Some(n); case _ => None })
        case "mod" => d.mod(a, b) // %0 → NULL on every engine version (seam doc)
      }
      withDefault(res, default, d)
    case DivOp(l, r, default) =>
      // /0 → missing via the guarded seam (try_divide's contract,
      // stable across the DuckDB 1.1.0 IEEE-754 division change)
      withDefault(d.div(sql(l, d), sql(r, d)), default, d)
    case FloorOp(l, r) =>
      val (a, b) = (sql(l, d), sql(r, d))
      s"(FLOOR(${d.div(a, b)}) * $b)"
    case MaxOp(terms) =>
      if (terms.size == 1) sql(terms.head, d)
      else d.greatest(terms.map(sql(_, d))) // both engines skip NULLs (seam doc)
    case MinOp(terms) =>
      if (terms.size == 1) sql(terms.head, d)
      else d.least(terms.map(sql(_, d)))
    case CountOp(terms) =>
      terms.map(t => s"(CASE WHEN ${sql(t, d)} IS NULL THEN 0 ELSE 1 END)")
        .mkString("(", " + ", ")")
    case CoalesceOp(terms) => s"COALESCE(${terms.map(sql(_, d)).mkString(", ")})"
    case CastOp("number", t)  => s"TRY_CAST(${sql(t, d)} AS DOUBLE)"
    case CastOp("integer", t) =>
      // fuzz restricts this to integer-typed inputs: a bare CAST is a
      // no-op in both engines there, whereas double→BIGINT would
      // TRUNCATE in Spark and ROUND in DuckDB — out of scope
      s"CAST(${sql(t, d)} AS BIGINT)"
    case CastOp("string", t)  => s"CAST(${sql(t, d)} AS ${d.stringType})"
    // date math (r11 widening): the compiler's UnixOp is cast-to-double
    // (fractional epoch seconds preserved); both engines agree on
    // integral-second fixtures and IEEE arithmetic over them. The
    // fuzzed subset keeps FromUnixOp arguments to small literals so a
    // huge generated double can never hit the engines' DIFFERENT
    // timestamp-overflow behaviors (Spark nulls, DuckDB errors).
    case UnixOp(t)     => d.epochSeconds(sql(t, d))
    case FromUnixOp(Lit(v)) => d.toTimestamp(litSql(v))

    // ---- string ----------------------------------------------------------
    case LengthOp(t) => s"LENGTH(${sql(t, d)})"
    case SubstrOp(kind, v, n) =>
      val s = sql(v, d)
      val k = d.greatest(Seq(s"CAST(${sql(n, d)} AS INTEGER)", "0")) // both engines skip the NULL (seam doc)
      kind match {
        case "left"      => s"SUBSTR($s, 1, $k)"
        case "right"     =>
          val kk = d.least(Seq(k, s"LENGTH($s)"))
          s"SUBSTR($s, LENGTH($s) - $kk + 1, $kk)"
        case "not_left"  => s"SUBSTR($s, $k + 1)"
        case "not_right" => s"SUBSTR($s, 1, ${d.greatest(Seq(s"LENGTH($s) - $k", "0"))})"
      }
    case FindOp(v, Lit(f: String), Lit(0L), default) =>
      require(f.nonEmpty, "find target must be non-empty in the fuzzed subset")
      val s = sql(v, d)
      val loc = d.strpos(s, litSql(f))
      val dflt = default match { case NullOp => "NULL"; case dd => sql(dd, d) }
      s"(CASE WHEN $s IS NULL OR $loc IS NULL OR $loc = 0 THEN $dflt ELSE CAST($loc - 1 AS BIGINT) END)"
    case BetweenOp(v, Lit(p: String), Lit(sfx: String), Lit(0L), default) =>
      // r11 widening, mirroring JxCompiler's dataflow (JxCompiler.scala
      // BetweenOp): begin = 1-based position just AFTER the first
      // prefix occurrence; end = first suffix occurrence at-or-after
      // begin (searched via substring shift — identical to a
      // position-arg locate, and expressible in both dialects); either
      // absent → default. The fuzzed subset pins prefix/suffix to
      // non-empty literals and start to 0 (empty-needle position
      // semantics differ across engines, same stance as FindOp).
      require(p.nonEmpty && sfx.nonEmpty,
        "between prefix/suffix must be non-empty in the fuzzed subset")
      val s = sql(v, d)
      val loc1 = d.strpos(s, litSql(p))
      val begin = s"(CASE WHEN $loc1 = 0 THEN NULL ELSE $loc1 + ${p.length} END)"
      val loc2 = d.strpos(s"SUBSTR($s, $begin)", litSql(sfx))
      val end = s"(CASE WHEN $loc2 = 0 THEN NULL ELSE $loc2 + $begin - 1 END)"
      val res = s"SUBSTR($s, $begin, $end - $begin)"
      val dflt = default match { case NullOp => "NULL"; case dd => sql(dd, d) }
      s"(CASE WHEN $s IS NULL OR $begin IS NULL OR $end IS NULL THEN $dflt ELSE $res END)"
    case PrefixOp(v, p) =>
      val (s, pc) = (sql(v, d), sql(p, d))
      s"(CASE WHEN $pc IS NULL THEN TRUE ELSE COALESCE(SUBSTR($s, 1, LENGTH($pc)) = $pc, FALSE) END)"
    case SuffixOp(v, p) =>
      val (s, pc) = (sql(v, d), sql(p, d))
      val lk = d.least(Seq(s"LENGTH($pc)", s"LENGTH($s)"))
      s"(CASE WHEN $pc IS NULL THEN TRUE ELSE COALESCE(" +
        s"SUBSTR($s, LENGTH($s) - $lk + 1) = $pc, FALSE) END)"
    case ConcatOp(terms, separator, default) =>
      val sep = separator match {
        case Lit(s: String) => litSql(s)
        case NullOp         => "''"
        case other => throw new IllegalArgumentException(s"concat separator must be literal: $other")
      }
      val cols = terms.map(sql(_, d))
      val allMissing = cols.map(c => s"$c IS NULL").mkString(" AND ")
      val dflt = default match { case NullOp => "NULL"; case dd => sql(dd, d) }
      s"(CASE WHEN $allMissing THEN $dflt ELSE CONCAT_WS($sep, ${cols.mkString(", ")}) END)"
    case RegExpOp(v, Lit(pat: String)) =>
      s"COALESCE(${d.regexpFullMatch(sql(v, d), pat)}, FALSE)"
    // split + element access (vendor/jx_base/expressions.py SplitOp/
    // GetOp/FirstOp/LastOp; r11 widening, r12 contract fix): split is
    // a LITERAL substring split (jx_python `.split(find)` — see
    // JxExpr.SplitOp) through the per-dialect splitLiteral seam;
    // trailing empties kept, NULL in → NULL array, out-of-bounds
    // index (either sign) → NULL in both engines.
    case SplitOp(v, Lit(pat: String)) =>
      require(pat.nonEmpty, "split pattern must be non-empty in the fuzzed subset")
      d.splitLiteral(s"CAST(${sql(v, d)} AS ${d.stringType})", pat)
    // get/first/last mirror the compiler's listwrap dispatch (see
    // JxCompiler): the subscript is FlatList.__getitem__ (mo_dots
    // lists.py:69-71) — ANY negative index is missing, so only i>=0
    // renders element access (1-based, i+1; index 0 — where the
    // engines diverge — is never rendered) and negative indexes render
    // the never-true CASE; scalar operands are one-element lists
    // (only index 0 hits the value)
    case GetOp(v, Lit(i: Long)) if JxExpr.isArrayExpr(v) =>
      // the miss arm must be a NULL OF THE ELEMENT'S TYPE (see the
      // scalar arm below) — a never-true element access keeps it
      if (i >= 0) d.elementAt(sql(v, d), (i + 1).toString)
      else s"(CASE WHEN FALSE THEN ${d.elementAt(sql(v, d), "1")} END)"
    case GetOp(v, Lit(i: Long)) =>
      // the miss arm must be a NULL OF THE OPERAND'S TYPE: a bare NULL
      // literal types as INTEGER in DuckDB and lands float64 in the
      // driver's pandas comparator, while Spark's never-true `when`
      // folds to a null of the value type (string → object dtype)
      if (i == 0) sql(v, d)
      else s"(CASE WHEN FALSE THEN ${sql(v, d)} END)"
    case FirstOp(t) if JxExpr.isArrayExpr(t) => d.elementAt(sql(t, d), "1")
    case FirstOp(t) => sql(t, d)
    case LastOp(t) if JxExpr.isArrayExpr(t) => d.elementAt(sql(t, d), "-1")
    case LastOp(t)  => sql(t, d)

    // ---- structural ------------------------------------------------------
    case WhenOp(c, t, els) =>
      s"(CASE WHEN ${truthy(c, d)} THEN ${sql(t, d)} ELSE ${sql(els, d)} END)"
    case CaseOp(whens, default) =>
      val arms = whens.map(w => s"WHEN ${truthy(w.cond, d)} THEN ${sql(w.thenE, d)}")
      s"(CASE ${arms.mkString(" ")} ELSE ${sql(default, d)} END)"

    case other =>
      throw new IllegalArgumentException(s"JxSql: outside the fuzzed subset: $other")
  }
}
