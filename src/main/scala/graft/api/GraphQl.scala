package graft.api

import graft.api.QueryBuilder._

/** GraphQL front end — the reference's ACTUAL wire format: its read
  * path is Hasura serving GraphQL text over HTTP
  * (/root/reference/README.md:89-155, e.g.
  * `{ users(where: {_or: {id: {_gte: 1}}}) { nfts { token_id } id } }`).
  * This parser accepts that query language (the read-relevant subset)
  * and compiles it to the same [[QueryBuilder.Request]] the Scala DSL
  * and the JSON codec ([[RequestCodec]]) build — so all three front
  * ends share one compiled plan and one correctness story.
  *
  * Like Hasura, relationships are RESOLVED FROM METADATA, not from the
  * query text: a selection that is an object (`orders { ... }`) must
  * name a tracked relationship of the parent table in the supplied
  * [[Schema]] (Hasura's "track relationship" step), which carries the
  * join keys. Scalar selections become projected fields; a tracked
  * name + `_aggregate` (Hasura's `orders_aggregate`) becomes an
  * aggregate relationship with `aggregate { count sum { field } }`
  * selections.
  *
  * Supported per GraphQL syntax: field aliases (`k: o_orderkey`),
  * arguments on any relationship or the root (`where`, `order_by` in
  * Hasura's `{field: asc|desc}` spelling — object or list form —
  * `limit`, `offset`), boolean operators `_and/_or/_not` (object OR
  * array operands — the reference's own example uses the object form)
  * and the full comparison surface (`_eq/_neq/_gt/_gte/_lt/_lte/_in/
  * _nin/_like/_nlike/_ilike/_is_null`), block strings, `#` comments,
  * an optional leading `query [Name]`, OPERATION VARIABLES
  * (`query ($k: bigint!) {...}` + a JSON variables map — the shape
  * every Hasura client actually sends; `$name` resolves at any value
  * position, and declared/bound/used must agree or the parse fails),
  * and FRAGMENTS: named definitions (`fragment F on customer {...}`,
  * before or after the operation) with `...F` spreads, plus inline
  * `... on customer {...}` — resolved by token splicing at the spread
  * site, so fragment text parses exactly as if written inline. The
  * type condition must name the enclosing table (no polymorphism in a
  * relational schema — a mismatch is a wrong-table field bug, not a
  * skip signal); undefined, unused, duplicate, and cyclically-
  * spreading fragments are all parse errors. Fragments spread in
  * EVERY operation type (spec 2.8: any selection set) — reads,
  * mutations (row shapes on `<table>`, response wrappers on
  * `<table>_mutation_response`), `_stream` subscriptions, and
  * aggregate documents (`<table>_aggregate` /
  * `<table>_aggregate_fields` / nodes rows on `<table>`).
  * Two engine-specific field directives carry what Hasura expresses
  * elsewhere: `@fmt(round: n, printf: "…")` (q40's cross-engine price
  * rendering) and `@cast(to: "long")`; `@join(type: "left")` on a
  * relationship selects the attach mode.
  *
  * Contracts match [[RequestCodec]]: errors are `Left` values with a
  * position, never exceptions; the parse of a query is the SAME
  * `Request` value the DSL would build (spec-pinned), so q100 can
  * serve q98's request arriving as GraphQL text under q98's oracle.
  */
object GraphQl {

  /** One tracked relationship: `parent.field` joins `childTable` on
    * `childKey = parentKey` (Hasura metadata's array relationship). */
  final case class Rel(childTable: String, childKey: String,
      parentKey: String)

  /** Tracked relationships, keyed by (parentTable, fieldName), plus the
    * tracked PRIMARY KEY per table — what Hasura reads from Postgres
    * metadata to generate each table's `<table>_by_pk` field (one
    * argument per key column, each named after it). A COMPOSITE key
    * (r19) lists every component in order — Hasura generates
    * `<table>_by_pk(pk1:, pk2:)` for multi-column constraints, the
    * reference's own cursor being the (Height, TxIndex, MsgID) triple
    * (x/indexer/cursor.go:5-18). A table absent from `keys` has no
    * by_pk field, exactly like an untracked PK there. */
  final case class Schema(rels: Map[(String, String), Rel],
      keys: Map[String, Seq[String]] = Map.empty,
      objRels: Map[(String, String), Rel] = Map.empty) {
    require(keys.valuesIterator.forall(_.nonEmpty),
      "Schema.keys: a tracked key needs at least one column")
    require(keys.valuesIterator.forall(ks => ks.distinct.size == ks.size),
      "Schema.keys: duplicate column in a composite key")
    // one field name cannot be both shapes — Hasura's metadata forbids
    // the collision too, and resolution order would silently pick one
    private val both = rels.keySet & objRels.keySet
    require(both.isEmpty, s"relationship name(s) tracked as BOTH " +
      s"array and object: ${both.mkString(", ")}")
  }

  /** The fixture tables' FK edges (SURVEY §3) — what "tracking" every
    * relationship in the reference's schema would produce. `objRels`
    * are the MANY-TO-ONE inverses (Hasura object relationships): the
    * same Rel shape, with `childKey` the related table's KEY, so the
    * "child group" is at most one row. */
  val fixtureSchema: Schema = Schema(Map(
    ("customer", "orders") -> Rel("orders", "o_custkey", "c_custkey"),
    ("orders", "items") -> Rel("lineitem", "l_orderkey", "o_orderkey"),
    ("nation", "suppliers") -> Rel("supplier", "s_nationkey", "n_nationkey"),
    ("nation", "customers") -> Rel("customer", "c_nationkey", "n_nationkey"),
    ("supplier", "parts") -> Rel("part", "p_partkey", "s_suppkey")),
    keys = Map(
      "customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey"),
      "nation" -> Seq("n_nationkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "region" -> Seq("r_regionkey")),
    objRels = Map(
      ("orders", "customer") -> Rel("customer", "c_custkey", "o_custkey"),
      ("customer", "nation") -> Rel("nation", "n_nationkey", "c_nationkey"),
      ("supplier", "nation") -> Rel("nation", "n_nationkey", "s_nationkey"),
      ("nation", "region") -> Rel("region", "r_regionkey", "n_regionkey")))

  // ---- tokenizer -----------------------------------------------------

  private final case class Bad(msg: String) extends RuntimeException(msg)
  private def bad(msg: String): Nothing = throw Bad(msg)

  // shared, thread-safe (the RequestCodec pattern) — constructing one
  // per parse would pay Jackson's registry setup on every request
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private sealed trait Tok { def pos: Int }
  private final case class Punct(c: Char, pos: Int) extends Tok
  private final case class Name(s: String, pos: Int) extends Tok
  private final case class Str(s: String, pos: Int) extends Tok
  private final case class IntLit(v: Long, pos: Int) extends Tok
  private final case class FloatLit(v: Double, pos: Int) extends Tok
  private final case class Spread(pos: Int) extends Tok
  private final case class Eof(pos: Int) extends Tok

  /** GraphQL lexical grammar (the spec's ignored tokens include commas
    * and comments); names are [_A-Za-z][_0-9A-Za-z]*. */
  private def tokenize(q: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = q.length
    while (i < n) {
      val c = q.charAt(i)
      if (c.isWhitespace || c == ',') i += 1
      else if (c == '#') { while (i < n && q.charAt(i) != '\n') i += 1 }
      else if ("{}()[]:@!$=".indexOf(c) >= 0) { out += Punct(c, i); i += 1 }
      else if (c == '.') {
        if (i + 2 < n && q.charAt(i + 1) == '.' && q.charAt(i + 2) == '.') {
          out += Spread(i); i += 3
        } else bad(s"expected '...' at $i ('.' alone is not a token)")
      }
      else if (c == '"') {
        val start = i
        if (i + 2 < n && q.charAt(i + 1) == '"' && q.charAt(i + 2) == '"') {
          // block string: raw until the closing triple quote
          val end = q.indexOf("\"\"\"", i + 3)
          if (end < 0) bad(s"unterminated block string at $start")
          out += Str(q.substring(i + 3, end), start)
          i = end + 3
        } else {
          val sb = new StringBuilder
          i += 1
          var closed = false
          while (i < n && !closed) {
            q.charAt(i) match {
              case '"' => closed = true; i += 1
              case '\\' =>
                if (i + 1 >= n) bad(s"dangling escape at $i")
                q.charAt(i + 1) match {
                  case '"' => sb += '"'
                  case '\\' => sb += '\\'
                  case '/' => sb += '/'
                  case 'n' => sb += '\n'
                  case 't' => sb += '\t'
                  case 'r' => sb += '\r'
                  case 'b' => sb += '\b'
                  case 'f' => sb += '\f'
                  case 'u' =>
                    if (i + 5 >= n) bad(s"bad \\u escape at $i")
                    sb += Integer.parseInt(q.substring(i + 2, i + 6), 16)
                      .toChar
                    i += 4
                  case other => bad(s"unknown escape \\$other at $i")
                }
                i += 2
              case ch => sb += ch; i += 1
            }
          }
          if (!closed) bad(s"unterminated string at $start")
          out += Str(sb.toString, start)
        }
      } else if (c == '-' || c.isDigit) {
        val start = i
        i += 1
        while (i < n && (q.charAt(i).isDigit || q.charAt(i) == '.' ||
          q.charAt(i) == 'e' || q.charAt(i) == 'E' ||
          q.charAt(i) == '+' || q.charAt(i) == '-')) i += 1
        val s = q.substring(start, i)
        if (s.contains('.') || s.exists(ch => ch == 'e' || ch == 'E'))
          out += FloatLit(s.toDouble, start)
        else out += IntLit(s.toLong, start)
      } else if (c == '_' || c.isLetter) {
        val start = i
        i += 1
        while (i < n && (q.charAt(i) == '_' || q.charAt(i).isLetterOrDigit))
          i += 1
        out += Name(q.substring(start, i), start)
      } else bad(s"unexpected character '$c' at $i")
    }
    out += Eof(n)
    out.result()
  }

  // ---- parser --------------------------------------------------------

  private final class P(private var toks: Vector[Tok]) {
    /** Declared-and-bound operation variables, resolvable at any value
      * position (`$name`). */
    var variables: Map[String, V] = Map.empty
    /** Names actually referenced — the spec's All-Variables-Used rule:
      * a bound-but-unused variable usually means a dropped filter. */
    val used = scala.collection.mutable.Set.empty[String]
    /** Fragment definitions (name → type condition + selection-set body
      * tokens, outer braces stripped), harvested before the operation
      * parses. */
    var fragments: Map[String, (String, Vector[Tok])] = Map.empty
    /** Fragment names actually spread — the spec's All-Fragments-Used
      * rule, same posture as unused variables. */
    val usedFrags = scala.collection.mutable.Set.empty[String]
    private var splices = 0
    private var at = 0
    def peek: Tok = toks(at)
    def next(): Tok = { val t = toks(at); at += 1; t }
    def expect(c: Char): Unit = next() match {
      case Punct(`c`, _) => ()
      case t => bad(s"expected '$c' at ${t.pos}")
    }
    def name(what: String): String = next() match {
      case Name(s, _) => s
      case t => bad(s"expected $what at ${t.pos}")
    }
    def isPunct(c: Char): Boolean = peek match {
      case Punct(`c`, _) => true
      case _ => false
    }
    def isSpread: Boolean = peek match {
      case Spread(_) => true
      case _ => false
    }
    /** Insert `body` at the cursor, so the selection loop reads the
      * fragment's fields as if written inline. The splice cap bounds
      * mutually-recursive fragments (the spec forbids cycles; without
      * the cap an A→B→A pair would expand forever). */
    def splice(body: Vector[Tok], pos: Int): Unit = {
      splices += 1
      if (splices > 256)
        bad(s"fragment expansion exceeded 256 splices at $pos — " +
          "cyclic fragment spreads?")
      toks = toks.patch(at, body, 0)
    }
    /** Capture the tokens of a brace-balanced `{ ... }` block starting
      * at the cursor, returning the contents (outer braces stripped). */
    def captureBlock(what: String): Vector[Tok] = {
      val open = next()
      open match {
        case Punct('{', _) => ()
        case t => bad(s"expected '{' for $what at ${t.pos}")
      }
      val body = Vector.newBuilder[Tok]
      var depth = 1
      while (depth > 0) {
        next() match {
          case Eof(pp) => bad(s"unterminated $what at $pp")
          case t @ Punct('{', _) => depth += 1; body += t
          case t @ Punct('}', _) =>
            depth -= 1; if (depth > 0) body += t
          case t => body += t
        }
      }
      body.result()
    }
  }

  /** Resolve one `...` at the cursor inside a selection set over
    * `table`: a named spread (`...Frag`) or an inline fragment
    * (`... on table { ... }`). Either way the body tokens splice at
    * the cursor and the caller's loop keeps parsing — fragments are
    * pure selection-text reuse, exactly the GraphQL semantics for a
    * single-table type condition. The type condition must name the
    * enclosing table: these fragments carry no polymorphism, so a
    * mismatch is a query bug (fields of the wrong table), not a
    * skip-this-branch signal. */
  private def resolveSpread(p: P, table: String, at: String): Unit = {
    resolveSpreadIn(p, Set(table), at); ()
  }

  /** Mark every `$name` AND every `...Frag` inside an UNSPLICED
    * (directive-excluded) spread body as used: `p.used`/`p.usedFrags`
    * otherwise only fill while tokens parse, so flipping a fragment
    * off would turn a valid document into a false "never used" /
    * "never spread" error. A bare token scan over THIS body — nested
    * excluded bodies' own contents resolve when the scan reaches the
    * NAMED fragment's stored body via the transitive walk below.
    * (`... on` inline conditions are skipped: "on" is not a legal
    * fragment name per the spec, so the filter is exact.) */
  private def markVarsUsed(p: P, body: Vector[Tok]): Unit =
    if (body.length >= 2)
      body.indices.dropRight(1).foreach { i =>
        (body(i), body(i + 1)) match {
          case (Punct('$', _), Name(n, _)) => p.used += n
          case (Spread(_), Name(n, _)) if n != "on" =>
            if (!p.usedFrags(n)) {
              p.usedFrags += n
              // the spread fragment's OWN body may reference further
              // variables/fragments — walk it too (cycle-safe: the
              // usedFrags guard above breaks repeats)
              p.fragments.get(n).foreach(f => markVarsUsed(p, f._2))
            }
          case _ => ()
        }
      }

  /** As [[resolveSpread]] but with SEVERAL legal type conditions —
    * positions whose selection set serves more than one shape (an
    * `insert_<t>_one` response is either the row type or the
    * mutation-response wrapper) accept a fragment on either; the
    * resolved condition comes back so the caller can branch on the
    * shape the fragment committed to.
    *
    * `@include`/`@skip` apply ON the spread itself (r18 — the spec's
    * FRAGMENT_SPREAD / INLINE_FRAGMENT locations, Apollo's fragment
    * toggle): an excluded spread contributes nothing — the returned
    * flag says whether the body spliced, so shape-committing callers
    * (insert_one's row-vs-response branch) never commit on an
    * excluded spread. Variables referenced inside an excluded body
    * still count as USED (a token scan — toggling the fragment off
    * must not turn a valid document into an unused-variable error).
    * One documented deviation from the excluded-fields-still-compile
    * contract: an excluded spread's BODY is brace-balanced but not
    * semantically validated until some request includes it (the body
    * never splices). */
  private def resolveSpreadIn(p: P, conds: Set[String],
      at: String): (String, Boolean) = {
    val enclosing = conds.toSeq.sorted.mkString("' / '")
    val pos = p.next().pos // the Spread token
    p.peek match {
      case Name("on", _) => // inline fragment
        p.next()
        val cond = p.name("type condition")
        if (!conds(cond))
          bad(s"$at: inline fragment on '$cond' inside a '$enclosing' " +
            "selection — type condition must match the enclosing table")
        val (keepI, restI) = conditionalKeep(parseDirectives(p),
          s"$at: inline fragment")
        restI.keySet.foreach(d =>
          bad(s"$at: unknown directive @$d on an inline fragment"))
        val body = p.captureBlock("inline fragment")
        if (keepI) p.splice(body, pos) else markVarsUsed(p, body)
        (cond, keepI)
      case Name(fname, fpos) =>
        p.next()
        val (keepS, restS) = conditionalKeep(parseDirectives(p),
          s"$at: ...$fname")
        restS.keySet.foreach(d =>
          bad(s"$at: unknown directive @$d on a fragment spread"))
        val (cond, body) = p.fragments.getOrElse(fname,
          bad(s"$at: spread of undefined fragment '$fname' at $fpos"))
        if (!conds(cond))
          bad(s"$at: fragment '$fname' is on '$cond' but is spread " +
            s"inside a '$enclosing' selection")
        p.usedFrags += fname
        if (keepS) p.splice(body, pos) else markVarsUsed(p, body)
        (cond, keepS)
      case t => bad(s"$at: expected a fragment name or 'on' after " +
        s"'...' at ${t.pos}")
    }
  }

  /** All-Fragments-Used (spec 5.5.1.4) — a DOCUMENT-wide rule shared
    * by every grammar: when operationName picked one of several
    * operations, a fragment spread only by a NON-chosen operation (the
    * GraphiQL tabbed document) is still used. Used = REACHABLE from
    * some operation (transitively through fragment bodies) — a flat
    * scan would let two dead fragments spreading each other escape the
    * guard, the typo'd-spread case it exists for. */
  private def checkFragmentsUsed(p: P, allToks: Vector[Tok],
      nOps: Int): Unit = {
    val docSpreads: Set[String] =
      if (nOps > 1) {
        var reach = Set.empty[String]
        var frontier = spreadNames(allToks)
        while (frontier.nonEmpty) {
          reach ++= frontier
          frontier = frontier.flatMap(n =>
            p.fragments.get(n).map(b => spreadNames(b._2))
              .getOrElse(Set.empty)) -- reach
        }
        reach
      } else p.usedFrags.toSet
    (p.fragments.keySet -- docSpreads).toSeq.sorted.headOption
      .foreach(f => bad(s"fragment '$f' defined but never spread — " +
        "dead selection text usually means a typo'd spread"))
  }

  /** Split a document into its operation tokens and its `fragment Name
    * on Table { ... }` definitions (which may appear before or after
    * the operation, per the spec's ExecutableDocument grammar). Runs
    * over the raw token stream so the operation parser never sees a
    * definition mid-selection. */
  private def extractFragments(
      toks: Vector[Tok]): (Vector[Tok], Map[String, (String, Vector[Tok])]) = {
    val op = Vector.newBuilder[Tok]
    val frags = Map.newBuilder[String, (String, Vector[Tok])]
    val seen = scala.collection.mutable.Set.empty[String]
    var depth = 0
    var i = 0
    while (i < toks.length) {
      toks(i) match {
        case Name("fragment", fpos) if depth == 0 =>
          i += 1
          val fname = toks(i) match {
            case Name(s, _) =>
              if (s == "on") bad(s"fragment at $fpos: 'on' cannot name " +
                "a fragment")
              i += 1; s
            case t => bad(s"expected a fragment name at ${t.pos}")
          }
          toks(i) match {
            case Name("on", _) => i += 1
            case t => bad(s"fragment '$fname': expected 'on' at ${t.pos}")
          }
          val cond = toks(i) match {
            case Name(s, _) => i += 1; s
            case t => bad(s"fragment '$fname': expected a type at ${t.pos}")
          }
          toks(i) match {
            case Punct('{', _) => i += 1
            case t => bad(s"fragment '$fname': expected '{' at ${t.pos}")
          }
          val body = Vector.newBuilder[Tok]
          var d = 1
          while (d > 0) {
            toks(i) match {
              case Eof(pp) => bad(s"fragment '$fname': unterminated at $pp")
              case t @ Punct('{', _) => d += 1; body += t; i += 1
              case t @ Punct('}', _) =>
                d -= 1; if (d > 0) body += t; i += 1
              case t => body += t; i += 1
            }
          }
          if (!seen.add(fname))
            bad(s"fragment '$fname' defined twice")
          frags += fname -> (cond, body.result())
        case t =>
          t match {
            case Punct('{', _) => depth += 1
            case Punct('}', _) => depth -= 1
            case _ => ()
          }
          op += t
          i += 1
      }
    }
    (op.result(), frags.result())
  }

  /** A parsed GraphQL value: literals, lists, or input objects (field
    * order preserved — `_and`'s object form is order-sensitive). */
  private sealed trait V
  private final case class VLit(v: Any) extends V
  private case object VNull extends V
  private final case class VEnum(name: String) extends V
  private final case class VList(vs: Seq[V]) extends V
  private final case class VObj(fields: Seq[(String, V)]) extends V

  private def parseValue(p: P): V = p.next() match {
    case Punct('$', pos) =>
      val vn = p.name("variable name")
      p.used += vn
      p.variables.getOrElse(vn,
        bad(s"undeclared variable $$$vn at $pos"))
    case Str(s, _) => VLit(s)
    case IntLit(v, _) => VLit(v)
    case FloatLit(v, _) => VLit(v)
    case Name("true", _) => VLit(true)
    case Name("false", _) => VLit(false)
    case Name("null", _) => VNull
    case Name(s, _) => VEnum(s) // enum value, e.g. asc / desc
    case Punct('[', _) =>
      val vs = Seq.newBuilder[V]
      while (!p.isPunct(']')) vs += parseValue(p)
      p.expect(']')
      VList(vs.result())
    case Punct('{', _) =>
      val fs = Seq.newBuilder[(String, V)]
      while (!p.isPunct('}')) {
        val k = p.name("input field name")
        p.expect(':')
        fs += k -> parseValue(p)
      }
      p.expect('}')
      VObj(fs.result())
    case t => bad(s"expected a value at ${t.pos}")
  }

  /** A CONST value (spec: variable default values take no variable
    * references) — parseValue's grammar with the `$` arm a loud
    * error. */
  private def parseConstValue(p: P): V = p.peek match {
    case Punct('$', pos) =>
      bad(s"variable default values must be constant at $pos")
    case Punct('[', _) =>
      p.next()
      val vs = Seq.newBuilder[V]
      while (!p.isPunct(']')) vs += parseConstValue(p)
      p.expect(']')
      VList(vs.result())
    case Punct('{', _) =>
      p.next()
      val fs = Seq.newBuilder[(String, V)]
      while (!p.isPunct('}')) {
        val k = p.name("input field name")
        p.expect(':')
        fs += k -> parseConstValue(p)
      }
      p.expect('}')
      VObj(fs.result())
    case _ => parseValue(p)
  }

  /** `(name: value, ...)` if present. */
  private def parseArgs(p: P): Map[String, V] =
    if (!p.isPunct('(')) Map.empty
    else {
      p.expect('(')
      val m = Map.newBuilder[String, V]
      while (!p.isPunct(')')) {
        val k = p.name("argument name")
        p.expect(':')
        m += k -> parseValue(p)
      }
      p.expect(')')
      m.result()
    }

  /** `@name(args)*` if present. */
  private def parseDirectives(p: P): Map[String, Map[String, V]] = {
    val m = Map.newBuilder[String, Map[String, V]]
    while (p.isPunct('@')) {
      p.expect('@')
      val nm = p.name("directive name")
      m += nm -> parseArgs(p)
    }
    m.result()
  }

  // ---- where / order_by compilation ----------------------------------

  private def literal(v: V, at: String): Any = v match {
    case VLit(x) => x
    case VEnum(e) => e // bare enum used as a string literal
    case VNull => bad(s"$at: null is not a comparable literal here " +
      "(only _eq/_neq accept null, as IS [NOT] NULL)")
    case _ => bad(s"$at: expected a literal value")
  }

  private def compileCmp(field: String, op: String, v: V): BoolExp =
    op match {
      // Hasura null-comparison semantics: `_eq: null` answers the
      // IS NULL question, never a value comparison — a VEnum("null")
      // here would silently compare against the STRING "null".
      case "_eq" if v == VNull => IsNull(field, isNull = true)
      case "_neq" if v == VNull => IsNull(field, isNull = false)
      case "_eq" => Eq(field, literal(v, s"$field._eq"))
      case "_neq" => Neq(field, literal(v, s"$field._neq"))
      case "_gt" => Gt(field, literal(v, s"$field._gt"))
      case "_gte" => Gte(field, literal(v, s"$field._gte"))
      case "_lt" => Lt(field, literal(v, s"$field._lt"))
      case "_lte" => Lte(field, literal(v, s"$field._lte"))
      case "_like" | "_nlike" | "_ilike" | "_regex" | "_iregex" |
          "_nregex" | "_niregex" | "_similar" | "_nsimilar" =>
        literal(v, s"$field.$op") match {
          case s: String => op match {
            case "_like" => Like(field, s)
            case "_nlike" => Nlike(field, s)
            case "_ilike" => Ilike(field, s)
            case "_regex" => Regex(field, s)
            case "_iregex" => Regex(field, s, caseInsensitive = true)
            case "_nregex" => Nregex(field, s)
            case "_niregex" => Nregex(field, s, caseInsensitive = true)
            case "_similar" => Similar(field, s)
            case _ => Nsimilar(field, s)
          }
          case _ => bad(s"$field.$op: pattern must be a string")
        }
      case "_is_null" => v match {
        case VLit(b: Boolean) => IsNull(field, b)
        case _ => bad(s"$field._is_null: expected a boolean")
      }
      case "_in" | "_nin" => v match {
        case VList(vs) =>
          val lits = vs.map(literal(_, s"$field.$op"))
          if (op == "_in") In(field, lits) else Nin(field, lits)
        case _ => bad(s"$field.$op: expected a list")
      }
      // Hasura's JSONB family over JSON-text columns (flat-object
      // subset — QueryBuilder documents the scope)
      case "_has_key" => literal(v, s"$field._has_key") match {
        case s: String => HasKey(field, s)
        case _ => bad(s"$field._has_key: expected a string key")
      }
      case "_has_keys_any" | "_has_keys_all" => v match {
        case VList(vs) =>
          val keys = vs.map(literal(_, s"$field.$op")).map {
            case s: String => s
            case _ => bad(s"$field.$op: expected string keys")
          }
          if (op == "_has_keys_any") HasKeysAny(field, keys)
          else HasKeysAll(field, keys)
        case _ => bad(s"$field.$op: expected a list of keys")
      }
      case "_contains" | "_contained_in" => v match {
        case VObj(fs) =>
          val pairs = fs.map { case (k, sub) =>
            k -> litValue(sub, s"$field.$op.$k")
          }
          if (op == "_contains") JsonContains(field, pairs)
          else JsonContainedIn(field, pairs)
        case _ => bad(s"$field.$op: expected an object literal")
      }
      // Hasura `_cast: {<Type>: {...}}` (r19): exactly one target
      // type whose value is a comparison object evaluated against
      // the CASTED column
      case "_cast" => v match {
        case VObj(Seq((tname, VObj(ops)))) =>
          if (ops.isEmpty)
            bad(s"$field._cast.$tname: empty comparison object")
          rejectDupKeys(ops, s"$field._cast.$tname")
          val inner = ops.map { case (iop, ov) =>
            compileCmp(field, iop, ov) }
          try QueryBuilder.Cast(field, tname,
            if (inner.length == 1) inner.head else And(inner: _*))
          catch { case e: IllegalArgumentException => bad(e.getMessage) }
        case _ => bad(s"$field._cast: expected {<Type>: {<op>: ...}} " +
          "with exactly one target type")
      }
      case other => bad(s"$field: unknown operator '$other'")
    }

  /** `_and/_or` accept BOTH spellings: a list of condition objects, or
    * one object whose entries are the operands (the reference's own
    * README example uses `_or: {id: {...}, address: {...}}`). */
  private def boolOperands(v: V, at: String,
      ctx: Option[(Schema, String)]): Seq[BoolExp] = v match {
    case VList(vs) => vs.map(compileBool(_, at, ctx))
    case VObj(fs) =>
      fs.map { case (k, sub) => compileBoolField(k, sub, at, ctx) }
    case _ => bad(s"$at: expected an object or a list")
  }

  private def compileBoolField(k: String, v: V, at: String,
      ctx: Option[(Schema, String)]): BoolExp =
    k match {
      case "_and" => And(boolOperands(v, s"$at._and", ctx): _*)
      case "_or" => Or(boolOperands(v, s"$at._or", ctx): _*)
      case "_not" => Not(compileBool(v, s"$at._not", ctx))
      case field =>
        // a TRACKED relationship name in a where-tree is Hasura's
        // EXISTS predicate: the inner object compiles against the
        // CHILD table (nested relationships recurse), and the leaf
        // becomes a RelPred run() decorrelates to a semi-join flag.
        // An OBJECT relationship filters identically — EXISTS over an
        // at-most-one-row group is just "the referenced row matches"
        ctx.flatMap { case (sc, t) =>
          sc.rels.get((t, field)).orElse(sc.objRels.get((t, field)))
        } match {
          case Some(rel) =>
            QueryBuilder.RelPred(rel.childTable, rel.childKey,
              rel.parentKey,
              compileBool(v, s"$at.$field",
                ctx.map { case (sc, _) => (sc, rel.childTable) }))
          case None => v match {
            case VObj(Seq((op, ov))) => compileCmp(field, op, ov)
            case VObj(_) =>
              bad(s"$at.$field: exactly one comparison operator expected")
            case _ => bad(s"$at.$field: expected {_op: value}")
          }
        }
    }

  /** A where object with several entries is an implicit AND (Hasura's
    * semantics for `where: {a: {...}, b: {...}}`). `ctx` carries the
    * tracked schema + the table this tree filters, enabling
    * relationship predicates; None (mutations, root aggregates,
    * wire-JSON trees) keeps the tree column-only. */
  private def compileBool(v: V, at: String,
      ctx: Option[(Schema, String)] = None): BoolExp = v match {
    case VObj(Seq((k, sub))) => compileBoolField(k, sub, at, ctx)
    case VObj(fs) if fs.nonEmpty =>
      And(fs.map { case (k, sub) => compileBoolField(k, sub, at, ctx) }: _*)
    case _ => bad(s"$at: expected a non-empty object")
  }

  /** Hasura's `order_by: {field: asc}` / `[{f1: desc}, {f2: asc}]`.
    * Directions accept the enum form AND the string form — a variable-
    * supplied order_by arrives from JSON as `{"f": "asc"}`. */
  /** Root order_by with Hasura's AGGREGATE ordering entries
    * (`{<rel>_aggregate: {count: desc}}`, `{<rel>_aggregate: {sum:
    * {col: asc}}}`) next to plain column entries — aggregate entries
    * compile to hidden [[QueryBuilder.OrderAgg]]s referenced by
    * generated order names, preserving list position. */
  private def compileOrdersRoot(v: V, at: String, schema: Schema,
      table: String): (Seq[Order], Seq[QueryBuilder.OrderAgg]) = {
    val aggs = Seq.newBuilder[QueryBuilder.OrderAgg]
    var idx = 0
    def dirOf(d: V, a: String): Boolean = d match {
      case VEnum("asc") | VLit("asc") => false
      case VEnum("desc") | VLit("desc") => true
      case _ => bad(s"$a: expected asc or desc")
    }
    def aggEntry(f: String, d: V, rel: Rel): Order = {
      val as = s"__oa_$idx"; idx += 1
      val name = s"${as}_v"
      val (aggField, desc) = d match {
        case VObj(Seq((kind, sub))) => kind match {
          case "count" =>
            (QueryBuilder.CountOf(rel.childKey, name),
              dirOf(sub, s"$at.$f.count"))
          case "sum" | "min" | "max" | "avg" => sub match {
            case VObj(Seq((c, dv))) =>
              val fld = kind match {
                case "sum" => QueryBuilder.SumOf(c, name)
                case "min" => QueryBuilder.MinOf(c, name)
                case "max" => QueryBuilder.MaxOf(c, name)
                case _ => QueryBuilder.AvgOf(c, name)
              }
              (fld, dirOf(dv, s"$at.$f.$kind.$c"))
            case _ => bad(s"$at.$f.$kind: expected {column: asc|desc}")
          }
          case other => bad(s"$at.$f: unknown ordering aggregate " +
            s"'$other' (count/sum/min/max/avg)")
        }
        case _ => bad(s"$at.$f: expected {count|sum|min|max|avg: ...}")
      }
      aggs += QueryBuilder.OrderAgg(as, rel.childTable, rel.childKey,
        rel.parentKey, aggField)
      Order(as, desc = desc)
    }
    def one(o: V): Seq[Order] = o match {
      case VObj(fs) => fs.map { case (f, d) =>
        val rel =
          if (f.endsWith("_aggregate"))
            schema.rels.get((table, f.stripSuffix("_aggregate")))
          else None
        // ordering BY AN OBJECT RELATIONSHIP'S COLUMN (Hasura's
        // `order_by: {customer: {c_name: asc}}`): the related group is
        // at most one row, so max(column) IS the column — the hidden
        // OrderAgg join machinery serves it unchanged (missing
        // referenced rows order as null, Hasura's behavior)
        val objRel = schema.objRels.get((table, f))
        (rel, objRel) match {
          case (Some(r), _) => aggEntry(f, d, r)
          case (None, Some(r)) =>
            val as = s"__oa_$idx"; idx += 1
            d match {
              case VObj(Seq((c, dv))) =>
                aggs += QueryBuilder.OrderAgg(as, r.childTable,
                  r.childKey, r.parentKey,
                  QueryBuilder.MaxOf(c, s"${as}_v"))
                Order(as, desc = dirOf(dv, s"$at.$f.$c"))
              case _ => bad(s"$at.$f: expected {column: asc|desc}")
            }
          case _ => (d match {
            case VEnum(x) => x
            case VLit(x: String) => x
            case _ => ""
          }) match {
            case "asc" => Order(f)
            case "desc" => Order(f, desc = true)
            // Hasura's explicit null-placement family
            case "asc_nulls_first" =>
              Order(f, nullsFirst = Some(true))
            case "asc_nulls_last" =>
              Order(f, nullsFirst = Some(false))
            case "desc_nulls_first" =>
              Order(f, desc = true, nullsFirst = Some(true))
            case "desc_nulls_last" =>
              Order(f, desc = true, nullsFirst = Some(false))
            case _ => bad(s"$at.$f: expected asc[_nulls_first|_nulls_" +
              "last] or desc[_nulls_first|_nulls_last]")
          }
        }
      }
      case _ => bad(s"$at: expected {field: asc|desc}")
    }
    val orders = v match {
      case VList(vs) => vs.flatMap(one)
      case o => one(o)
    }
    (orders, aggs.result())
  }

  /** Column-only order_by (relationship-level order arguments): one
    * shared walker with [[compileOrdersRoot]] — an empty schema makes
    * every aggregate spelling fall to the plain-entry error. The full
    * Hasura direction family serves, INCLUDING non-default nulls
    * placements (asc_nulls_first / desc_nulls_last): the in-array
    * comparator places nulls by the spelled rule, defaulting to
    * nulls-largest (asc_nulls_last / desc_nulls_first). */
  private def compileOrders(v: V, at: String): Seq[Order] =
    compileOrdersRoot(v, at, Schema(Map.empty), "")._1

  private def intArg(args: Map[String, V], k: String,
      at: String): Option[Int] =
    args.get(k).map {
      case VLit(l: Long) => l.toInt
      case _ => bad(s"$at.$k: expected an integer")
    }

  /** Hasura's `distinct_on`: a column enum, a string (the variable-
    * supplied JSON form), or a list of either. */
  private def distinctOnArg(args: Map[String, V], at: String): Seq[String] =
    args.get("distinct_on").map {
      case VEnum(c) => Seq(c)
      case VLit(s: String) => Seq(s)
      case VList(vs) => vs.map {
        case VEnum(c) => c
        case VLit(s: String) => s
        case _ => bad(s"$at.distinct_on: expected column names")
      }
      case _ => bad(s"$at.distinct_on: expected column names")
    }.getOrElse(Nil)

  /** Hasura rejects arguments it doesn't know; silently dropping one
    * (a typo'd `wher:`, an unsupported `distinct_on:`) would parse
    * fine and return WRONG rows — the worst failure mode a front end
    * can have. */
  private def checkArgs(args: Map[String, V], allowed: Set[String],
      at: String): Unit =
    (args.keySet -- allowed).toSeq.sorted.headOption.foreach(k =>
      bad(s"$at: unknown argument '$k' " +
        s"(supported: ${allowed.toSeq.sorted.mkString(", ")})"))

  // ---- selection compilation -----------------------------------------

  private def strDirArg(d: Map[String, V], dir: String, k: String,
      at: String): String =
    d.get(k) match {
      case Some(VLit(s: String)) => s
      case _ => bad(s"$at: @$dir needs $k: \"…\"")
    }

  /** Split an operation token stream (fragments already extracted)
    * into its top-level operation definitions — real clients
    * (GraphiQL, Apollo codegen output) routinely POST a whole
    * document of named operations and select one with
    * `operationName`. Each operation is a header (`query|mutation|
    * subscription [Name] [(varDefs)]`, or the bare `{...}` shorthand)
    * plus its brace-balanced selection set; the slices keep their
    * headers so the single-operation parser consumes them verbatim. */
  private def splitOperations(toks: Vector[Tok])
      : Seq[(Option[String], Vector[Tok])] = {
    val out = Seq.newBuilder[(Option[String], Vector[Tok])]
    var i = 0
    while (!toks(i).isInstanceOf[Eof]) {
      val start = i
      var opName: Option[String] = None
      toks(i) match {
        case Name("query" | "mutation" | "subscription", _) =>
          i += 1
          toks(i) match {
            case Name(n, _) => opName = Some(n); i += 1
            case _ => ()
          }
          toks(i) match {
            case Punct('(', _) => // variable definitions
              var d = 1
              i += 1
              while (d > 0) toks(i) match {
                case Eof(pp) => bad(s"unterminated variable " +
                  s"definitions at $pp")
                case Punct('(', _) => d += 1; i += 1
                case Punct(')', _) => d -= 1; i += 1
                case _ => i += 1
              }
            case _ => ()
          }
        case Punct('{', _) => () // anonymous shorthand
        case t => bad(s"expected an operation definition at ${t.pos}")
      }
      toks(i) match {
        case Punct('{', _) =>
          var d = 1
          i += 1
          while (d > 0) toks(i) match {
            case Eof(pp) => bad(s"unterminated operation at $pp")
            case Punct('{', _) => d += 1; i += 1
            case Punct('}', _) => d -= 1; i += 1
            case _ => i += 1
          }
        case t => bad(s"expected '{' at ${t.pos}")
      }
      out += opName -> (toks.slice(start, i) :+ Eof(toks(i - 1).pos))
    }
    out.result()
  }

  /** Pick the operation a request names — the spec's rules: a named
    * request must match exactly one definition; an anonymous request
    * is only valid against a single-operation document. Returns the
    * chosen slice AND the document's operation count — the
    * bound-variable and fragment-use checks relax for multi-operation
    * documents (the GraphiQL tabbed shape), where bindings and
    * fragments may belong to a non-chosen operation. */
  private def chooseOperation(toks: Vector[Tok],
      operationName: Option[String]): (Vector[Tok], Int) = {
    val ops = splitOperations(toks)
    if (ops.isEmpty) bad("document defines no operation")
    operationName match {
      case Some(n) =>
        val hits = ops.filter(_._1.contains(n))
        if (hits.isEmpty) bad(s"no operation named '$n' in the document")
        if (hits.length > 1) bad(s"operation name '$n' is ambiguous")
        (hits.head._2, ops.length)
      case None =>
        if (ops.length > 1)
          bad(s"document defines ${ops.length} operations — " +
            "operationName is required")
        (ops.head._2, ops.length)
    }
  }

  /** Names spread (`...Name`) anywhere in a token stream — the
    * document-wide half of the All-Fragments-Used rule (spec 5.5.1.4
    * requires each fragment be spread somewhere in the DOCUMENT, not
    * in the operation a request selects). */
  private def spreadNames(toks: Vector[Tok]): Set[String] = {
    val out = Set.newBuilder[String]
    var i = 0
    while (i + 1 < toks.length) {
      (toks(i), toks(i + 1)) match {
        case (Spread(_), Name(n, _)) if n != "on" => out += n
        case _ => ()
      }
      i += 1
    }
    out.result()
  }

  /** The spec's conditional directives — `@include(if:)` / `@skip
    * (if:)`, which every Apollo/Relay client emits for fragment
    * toggles: evaluate (literals or operation variables, already
    * resolved by the value parser) and STRIP, returning whether the
    * selection stays. The selection's body always PARSES (the token
    * stream must stay aligned; errors inside an excluded field still
    * surface) — only its contribution to the request drops, matching
    * the spec's field-collection semantics. Both present = include
    * AND NOT skip (the spec's conjunction). */
  private def conditionalKeep(dirs: Map[String, Map[String, V]],
      at: String): (Boolean, Map[String, Map[String, V]]) = {
    def cond(name: String): Option[Boolean] = dirs.get(name).map { a =>
      (a.keySet - "if").foreach(k =>
        bad(s"$at: @$name takes only if:, got $k"))
      a.get("if") match {
        case Some(VLit(b: Boolean)) => b
        case _ => bad(s"$at: @$name requires if: Boolean")
      }
    }
    // BOTH validate before the answer combines — a short-circuit would
    // let a malformed @skip hide behind @include(if: false) until the
    // flag flips in production
    val inc = cond("include")
    val skp = cond("skip")
    (inc.getOrElse(true) && !skp.getOrElse(false),
      dirs -- Seq("include", "skip"))
  }

  /** One scalar selection inside a relationship: alias + field +
    * optional @fmt/@cast. */
  private def compileNestedField(alias: Option[String], field: String,
      dirs: Map[String, Map[String, V]], at: String): NestedField = {
    val fmt = dirs.get("fmt").map { d =>
      (d.get("round") match {
        case Some(VLit(l: Long)) => l.toInt
        case _ => bad(s"$at: @fmt needs round: n")
      }, strDirArg(d, "fmt", "printf", at))
    }
    val cast = dirs.get("cast").map(d => strDirArg(d, "cast", "to", at))
    (dirs.keySet -- Set("fmt", "cast")).foreach(d =>
      bad(s"$at: unknown directive @$d"))
    NestedField(alias.getOrElse(field), field, fmt, cast)
  }

  /** The RELATIONSHIP count arm: bare `count`, counting the child KEY —
    * within a per-parent group the key is never null, so it equals
    * Hasura's row count. Takes no arguments. */
  private def relCount(childKey: String, at: String)
      (alias: Option[String], cargs: Map[String, V]): AggField = {
    checkArgs(cargs, Set.empty, s"$at.count")
    CountOf(childKey, alias.getOrElse("count"))
  }

  /** The ROOT count arm: `count`, `count(columns: c)`,
    * `count(columns: c, distinct: true)` — Hasura's root-aggregate
    * count forms. */
  private def rootCount(at: String)
      (alias: Option[String], cargs: Map[String, V]): AggField = {
    checkArgs(cargs, Set("columns", "distinct"), s"$at.count")
    val column = cargs.get("columns").map {
      case VEnum(c) => c
      case VLit(s: String) => s
      case _ => bad(s"$at.count.columns: expected a column name")
    }
    val distinct = cargs.get("distinct") match {
      case Some(VLit(b: Boolean)) => b
      case None => false
      case _ => bad(s"$at.count.distinct: expected a boolean")
    }
    (column, distinct) match {
      case (None, false) => CountAll(alias.getOrElse("count"))
      case (None, true) =>
        bad(s"$at.count: distinct needs columns")
      case (Some(c), false) => CountOf(c, alias.getOrElse("count"))
      case (Some(c), true) => CountDistinctOf(c, alias.getOrElse("count"))
    }
  }

  /** `aggregate { count sum { f } min { f } ... }` inside an
    * `*_aggregate` selection. Output naming follows Hasura's response
    * shape flattened: `count`, `sum_f`, `min_f`, … unless aliased.
    * The count arm is the caller's — relationships count the child
    * key, the root serves Hasura's columns/distinct forms.
    * `aggType` is the selection's GraphQL type name
    * (`<table>_aggregate_fields` — Hasura's), the type condition a
    * fragment spread here must carry. */
  private def compileAggFields(p: P, at: String, aggType: String,
      countArm: (Option[String], Map[String, V]) => AggField)
      : Seq[AggField] = {
    p.expect('{')
    val aggs = Seq.newBuilder[AggField]
    while (!p.isPunct('}')) {
      if (p.isSpread) { resolveSpread(p, aggType, at) }
      else {
      val first = p.name("aggregate function")
      val (alias, fn) =
        if (p.isPunct(':')) { p.expect(':'); (Some(first), p.name("fn")) }
        else (None, first)
      fn match {
        case "count" =>
          // @include/@skip on the count arm: compile-then-gate, the
          // shared conditionalKeep contract (a malformed excluded
          // count still errors at parse)
          val cargs = parseArgs(p)
          val (keepC, restC) = conditionalKeep(parseDirectives(p),
            s"$at.count")
          restC.keySet.foreach(d =>
            bad(s"$at.count: unknown directive @$d"))
          val cf = countArm(alias, cargs)
          if (keepC) aggs += cf
        case "sum" | "min" | "max" | "avg" | "stddev" | "stddev_samp" |
            "stddev_pop" | "variance" | "var_samp" | "var_pop" =>
          val (keepFn, restFn) = conditionalKeep(parseDirectives(p),
            s"$at.$fn")
          restFn.keySet.foreach(d => bad(s"$at.$fn: unknown directive @$d"))
          p.expect('{')
          var inBlock = 0
          while (!p.isPunct('}')) {
            val f = p.name("aggregated field")
            inBlock += 1
            // an alias names ONE output column — applying it to every
            // field in the braces would emit duplicate column names
            // that only fail later, at analysis time
            if (inBlock > 1 && alias.isDefined)
              bad(s"$at: alias on $fn covers one field; " +
                "split multi-field aggregates")
            val (keepF, restF) = conditionalKeep(parseDirectives(p),
              s"$at.$fn.$f")
            restF.keySet.foreach(d =>
              bad(s"$at.$fn.$f: unknown directive @$d"))
            val as = alias.getOrElse(s"${fn}_$f")
            val af = (fn match {
              case "sum" => SumOf(f, as)
              case "min" => MinOf(f, as)
              case "max" => MaxOf(f, as)
              case "avg" => AvgOf(f, as)
              // Hasura's statistical family: bare stddev/variance are
              // the sample variants (the Postgres defaults)
              case "stddev" | "stddev_samp" => StddevOf(f, as)
              case "stddev_pop" => StddevOf(f, as, pop = true)
              case "variance" | "var_samp" => VarianceOf(f, as)
              case "var_pop" => VarianceOf(f, as, pop = true)
            }): AggField
            if (keepFn && keepF) aggs += af
          }
          p.expect('}')
        case other => bad(s"$at: unknown aggregate '$other'")
      }
      }
    }
    p.expect('}')
    aggs.result()
  }

  /** Spec §5.3.2 field merging for a REPEATED `aggregate` arm (the
    * shape two spread fragments produce): the later arm's fields
    * append, identical (response key, spec) pairs collapse, and a
    * response key reused for a DIFFERENT aggregate refuses loudly —
    * overwriting would silently drop the first arm's answer. */
  private def mergeAggArms(at: String, prev: Seq[AggField],
      next: Seq[AggField]): Seq[AggField] =
    next.foldLeft(prev) { (acc, f) =>
      acc.find(_.as == f.as) match {
        case Some(e) if e == f => acc
        case Some(_) => bad(s"$at: response key '${f.as}' selects two " +
          "different aggregates across repeated arms")
        case None => acc :+ f
      }
    }

  /** Spec §5.3.2 scalar accumulator shared by the read-root and
    * stream selection loops: identical (response key, source) pairs
    * collapse; a re-bound key passes through to the Request's loud
    * duplicate guard — one definition, one merge discipline. */
  private final class ScalarMerge {
    private var seen = Map.empty[String, String]
    private val fieldsB = Seq.newBuilder[String]
    private val fieldAsB = Map.newBuilder[String, String]
    def add(alias: Option[String], source: String): Unit = {
      val rk = alias.getOrElse(source)
      if (!seen.get(rk).contains(source)) {
        seen += rk -> source
        fieldsB += rk
        alias.filter(_ != source).foreach(a => fieldAsB += a -> source)
      }
    }
    def fields: Seq[String] = fieldsB.result()
    def fieldAs: Map[String, String] = fieldAsB.result()
  }

  private final case class RelParts(nested: Seq[Nested], aggs: Seq[AggRel])

  /** A relationship's selection set: scalars + any number of sibling
    * sub-relationships per level (array and object rels compose at
    * depth — r17). */
  private def compileRelBody(p: P, schema: Schema, table: String,
      args: Map[String, V], dirs: Map[String, Map[String, V]],
      alias: Option[String], relName: String, rel: Rel,
      single: Boolean = false): Nested = {
    val at = alias.getOrElse(relName)
    // an object relationship has no one-row slicing semantics, so the
    // slicing arguments reject at parse. `where` on an object
    // relationship is a DELIBERATE EXTENSION beyond Hasura (whose
    // object-relationship fields take no arguments at all): it can
    // null out an existing referenced row the way a left-joined
    // filter would — useful, but not a Hasura-parity surface
    checkArgs(args,
      if (single) Set("where")
      else Set("where", "order_by", "limit", "offset", "distinct_on"),
      at)
    // object relationships default LEFT (Hasura answers null for a
    // missing referenced row, never drops the parent)
    val joinType = dirs.get("join")
      .map(d => strDirArg(d, "join", "type", at))
      .getOrElse(if (single) "left" else "inner")
    (dirs.keySet - "join").foreach(d => bad(s"$at: unknown directive @$d"))
    p.expect('{')
    val fields = Seq.newBuilder[NestedField]
    val subs = Seq.newBuilder[Nested]
    while (!p.isPunct('}')) {
      if (p.isSpread) { resolveSpread(p, rel.childTable, at) }
      else {
      val first = p.name("selection")
      val (a2, f2) =
        if (p.isPunct(':')) { p.expect(':'); (Some(first), p.name("field")) }
        else (None, first)
      val subArgs = parseArgs(p)
      val (keep2, subDirs) = conditionalKeep(parseDirectives(p),
        s"$at.$f2")
      if (p.isPunct('{')) {
        // array relationships and OBJECT relationships both nest below
        // the root — siblings welcome (the reference's own FK graph
        // hangs offers AND bids off one NFT, x/common/types.go:51-52)
        val (r2, single2) = schema.rels.get((rel.childTable, f2))
          .map((_, false))
          .orElse(schema.objRels.get((rel.childTable, f2))
            .map((_, true)))
          .getOrElse(bad(
            s"$at.$f2: no tracked relationship on '${rel.childTable}'"))
        val s2 = compileRelBody(p, schema, rel.childTable, subArgs,
          subDirs, a2, f2, r2, single = single2)
        if (keep2) subs += s2
      } else {
        if (subArgs.nonEmpty) bad(s"$at.$f2: scalar fields take no arguments")
        val nf = compileNestedField(a2, f2, subDirs, s"$at.$f2")
        if (keep2) fields += nf
      }
      }
    }
    p.expect('}')
    Nested(
      as = at, table = rel.childTable,
      childKey = rel.childKey, parentKey = rel.parentKey,
      // spec §5.3.2: identical repeated selections merge (distinct
      // drops only FULLY identical NestedFields); a response key
      // re-bound differently still trips the Nested guard
      // .distinct on subs = spec 5.3.2 merging for IDENTICAL repeated
      // relationship selections (fragment composition); differing
      // selections under one key still refuse via the duplicate guard
      fields = fields.result().distinct, subs = subs.result().distinct,
      joinType = joinType,
      where = args.get("where").map(compileBool(_, s"$at.where",
        Some((schema, rel.childTable)))),
      orderBy = args.get("order_by")
        .map(compileOrders(_, s"$at.order_by")).getOrElse(Nil),
      limit = intArg(args, "limit", at),
      offset = intArg(args, "offset", at).getOrElse(0),
      distinctOn = distinctOnArg(args, at),
      single = single)
  }

  /** The request's JSON variables map → parsed values. */
  private def jsonVars(variables: String): Map[String, V] = {
    val root = mapper.readTree(
      if (variables == null || variables.isEmpty) "{}" else variables)
    if (!root.isObject) bad("variables: expected a JSON object")
    import scala.jdk.CollectionConverters._
    root.fields().asScala.map { e =>
      def conv(n: com.fasterxml.jackson.databind.JsonNode): V =
        if (n.isNull) VNull
        else if (n.isTextual) VLit(n.asText)
        else if (n.isBoolean) VLit(n.asBoolean)
        else if (n.isIntegralNumber) VLit(n.asLong)
        else if (n.isNumber) VLit(n.asDouble)
        else if (n.isArray) VList(n.elements().asScala.toSeq.map(conv))
        else if (n.isObject) VObj(n.fields().asScala.toSeq
          .map(f => f.getKey -> conv(f.getValue)))
        else bad(s"variables.${e.getKey}: unsupported JSON value")
      e.getKey -> conv(e.getValue)
    }.toMap
  }

  /** Parse the optional `($var: Type!, ...)` declarations after an
    * operation keyword, validate declared↔bound agreement, and arm the
    * parser's variable table — shared by the query and mutation
    * operation headers. */
  private def parseOpVariables(p: P, vars: Map[String, V],
      multiOp: Boolean = false): Unit = {
    val declared = Set.newBuilder[String]
    val resolved = Map.newBuilder[String, V]
    if (p.isPunct('(')) {
      p.expect('(')
      while (!p.isPunct(')')) {
        p.expect('$')
        val vn = p.name("variable name")
        declared += vn
        p.expect(':')
        // type reference: Name or [Name[!]] with optional non-null
        // markers; the top-level `!` participates in the null check
        var nonNull = false
        if (p.isPunct('[')) {
          p.expect('[')
          p.name("variable type")
          if (p.isPunct('!')) p.expect('!')
          p.expect(']')
        } else p.name("variable type")
        if (p.isPunct('!')) { p.expect('!'); nonNull = true }
        // `= const` default (spec CoerceVariableValues): an explicit
        // binding wins — INCLUDING an explicit null — else the
        // default, else the declared-but-unbound error below
        val default =
          if (p.isPunct('=')) { p.expect('='); Some(parseConstValue(p)) }
          else None
        val value = vars.get(vn).orElse(default).getOrElse(
          bad(s"variable $$$vn declared but not bound in variables"))
        if (nonNull && value == VNull)
          bad(s"variable $$$vn: null for a non-null type")
        resolved += vn -> value
      }
      p.expect(')')
    }
    val declaredSet = declared.result()
    // the strict bound↔declared agreement holds for single-operation
    // documents; a MULTI-operation document (GraphiQL's shared
    // variables pane) legitimately POSTs the union of every
    // operation's bindings — the spec's CoerceVariableValues ignores
    // extraneous variable values, so tolerate them there (only
    // DECLARED variables resolve; an undeclared $name in the chosen
    // operation still errors at its use site)
    if (!multiOp)
      (vars.keySet -- declaredSet).toSeq.sorted.headOption.foreach(k =>
        bad(s"variables.$k bound but not declared by the operation"))
    p.variables = resolved.result()
  }

  // ---- the document front end ----------------------------------------

  /** The operation kinds the read entry points serve (the bare `{...}`
    * shorthand is a query). */
  private val readOps = Set("query", "subscription")

  /** The one exception → `Left` mapping every entry point shares: the
    * parser's [[Bad]], a malformed number literal, a Spark/QueryBuilder
    * `require`, and a malformed variables map. */
  private def guarded[A](f: => A): Either[String, A] =
    try Right(f)
    catch {
      case Bad(m) => Left(m)
      case e: NumberFormatException => Left(s"bad number: ${e.getMessage}")
      case e: IllegalArgumentException => Left(e.getMessage)
      case e: com.fasterxml.jackson.core.JacksonException =>
        Left(s"variables: not valid JSON: ${e.getOriginalMessage}")
    }

  /** The document-level pass of every entry point: read the variables
    * JSON, tokenize and split off the fragment definitions, pick the
    * operation (`operationName`, the wire field every client POSTs),
    * read its header (`query|mutation|subscription [Name]
    * [($var: type, ...)]` or the bare `{...}` shorthand, which is a
    * query declaring nothing), then run `body` inside the outer braces
    * with the parser and the operation kind. After the body: no
    * trailing content, every declared variable used, every fragment
    * spread somewhere in the document. An operation of a kind outside
    * `serves` is refused by name. `variables = None` is a surface that
    * takes no operation variables (introspection): declaring one is an
    * error. Throws [[Bad]]; callers map through [[guarded]]. */
  private def document[A](text: String, variables: Option[String],
      operationName: Option[String], serves: Set[String])
      (body: (P, String) => A): A = {
    val vars = variables.map(jsonVars)
    val (allToks, frags) = extractFragments(tokenize(text))
    // variable declared/bound/used checks apply to the CHOSEN
    // operation, per the spec; fragment use is document-wide
    val (opToks, nOps) = chooseOperation(allToks, operationName)
    val p = new P(opToks)
    p.fragments = frags
    val head = p.peek
    val kind = head match {
      case Name(k @ ("query" | "mutation" | "subscription"), _) => k
      case _ => "query"
    }
    // a wrong-kind operation chosen by operationName (splitOperations
    // accepts every header) is diagnosed AS that kind — falling
    // through would mis-blame the variables or '{'
    if (!serves(kind)) {
      if (serves("mutation"))
        bad(s"expected 'mutation' at ${head.pos} (read queries go " +
          "through parse)")
      if (kind == "mutation")
        bad(s"the operation at ${head.pos} is a mutation — serve it " +
          "through parseMutationFields, not the read path")
      if (serves("subscription"))
        bad("<table>_stream is a subscription-only surface (Hasura " +
          "serves it over no other operation type)")
      bad(s"the operation at ${head.pos} is a $kind — introspection " +
        "is served over query operations")
    }
    head match {
      case Name(_, _) =>
        p.next()
        p.peek match { case Name(_, _) => p.next(); case _ => () }
      case _ => ()
    }
    vars match {
      case Some(vs) => parseOpVariables(p, vs, multiOp = nOps > 1)
      case None =>
        if (p.isPunct('('))
          bad("operation variables are not supported in the " +
            "introspection subset (the meta answer is static — " +
            "inline the literals)")
    }
    p.expect('{')
    val out = body(p, kind)
    p.expect('}')
    p.peek match {
      case Eof(_) => ()
      case t => bad(s"trailing content at ${t.pos}")
    }
    (p.variables.keySet -- p.used).toSeq.sorted.headOption.foreach(k =>
      bad(s"variable $$$k declared and bound but never used — " +
        "a dropped filter reads or writes the wrong rows silently"))
    checkFragmentsUsed(p, allToks, nOps)
    out
  }

  /** The one-root surfaces ([[parse]], [[parseRootAggregate]],
    * [[parseStream]]): the [[parseRoots]] root grammar held to exactly
    * one root field, optionally of the kind `suffix` names, whose
    * (response key, RootOp) `pick` projects. A root excluded by its
    * directives has nothing to answer with (parseRoots drops excluded
    * roots). */
  private def oneRoot[A](text: String, variables: String,
      operationName: Option[String], serves: Set[String], schema: Schema,
      suffix: Option[String])(pick: PartialFunction[(String, RootOp), A])
      : Either[String, A] = guarded {
    val (key, kept, op) =
      document(text, Some(variables), operationName, serves) { (p, kind) =>
        val root = parseRootField(p, schema, kind == "subscription", suffix)
        if (!p.isPunct('}'))
          bad("this document selects MULTIPLE root fields — serve it " +
            "through parseRoots (one DataFrame per root)")
        root
      }
    if (!kept)
      bad(s"$key: the only root field is excluded by its directives — " +
        "nothing to serve (parseRoots drops excluded roots)")
    pick((key, op))
  }

  /** Parse one GraphQL read query against `schema` → the same
    * [[Request]] the DSL builds. Never throws.
    *
    * `variables` is the request's JSON variables map (the way every
    * Hasura client ships literals): `query ($k: bigint!) { ... }` with
    * `{"k": 50}`. Declared variables substitute at `$name` value
    * positions; an undeclared `$name`, an unbound declared variable,
    * or an unused binding is an error — silent nulls would be the
    * wrong-rows failure mode. The operation header, `operationName`,
    * variable and fragment rules are the shared [[document]] pass; a
    * `query` or `subscription` operation (or the bare shorthand)
    * serves here, a mutation is refused by name. The one root may be
    * a table read or a `<table>_by_pk` lookup; an aggregate or
    * `_stream` root, or a second root, names its own entry point. */
  def parse(query: String, schema: Schema = fixtureSchema,
      variables: String = "{}",
      operationName: Option[String] = None): Either[String, Request] =
    oneRoot(query, variables, operationName, readOps, schema, None) {
      case (_, ReadRoot(req)) => req
      case (_, ByPkRoot(req)) => req
      case (key, AggRoot(_)) => bad(s"$key: aggregate roots serve " +
        "through parseRootAggregate (one root) or parseRoots (batched " +
        "with reads)")
      case (key, StreamRoot(_)) => bad(s"$key: `_stream` roots serve " +
        "through parseStream (one root) or parseRoots (batched into a " +
        "subscription document)")
    }

  /** Parse a MULTI-ROOT read document — Hasura serves any number of
    * root fields per query operation (`{ a: customer {...} orders
    * {...} }`, the client-side batching every dashboard emits) — into
    * the kept roots as (responseKey, Request) pairs, document order.
    * Spec rules carried over from [[parse]]: variables/fragments check
    * across ALL roots, identical duplicate roots collapse (5.3.2), a
    * response key bound to two DIFFERENT roots refuses, and a
    * fully-@skip-ed document (every root excluded) is loud — there is
    * nothing to serve. [[parse]] remains the one-root fast path and
    * names this entry point when handed a multi-root document. */
  def parseRoots(query: String, schema: Schema = fixtureSchema,
      variables: String = "{}",
      operationName: Option[String] = None)
      : Either[String, Seq[(String, RootOp)]] = guarded {
    // `_stream` roots are admitted only under an explicit
    // `subscription` header (Hasura serves them over no other
    // operation type)
    val allRoots =
      document(query, Some(variables), operationName, readOps) { (p, kind) =>
        val roots = Seq.newBuilder[(String, Boolean, RootOp)]
        while (!p.isPunct('}'))
          roots += parseRootField(p, schema, kind == "subscription")
        roots.result()
      }
    // `{ }` is a GraphQL syntax error, not a directive exclusion —
    // diagnose it as the empty selection it is
    if (allRoots.isEmpty) bad("empty selection set at the document root")
    // 5.3.2 on roots: identical repeats collapse; distinct requests
    // under one response key refuse; excluded roots contribute
    // nothing (they already fully compiled)
    val kept = allRoots.filter(_._2).map(t => (t._1, t._3))
      .distinct
    val dupKeys = kept.map(_._1).diff(kept.map(_._1).distinct).distinct
    if (dupKeys.nonEmpty)
      bad(s"duplicate root response key(s): ${dupKeys.mkString(", ")}" +
        " — alias the colliding roots")
    if (kept.isEmpty)
      bad("every root field is excluded by its directives — " +
        "nothing to serve")
    kept
  }

  /** Evaluate parsed roots in document order — one DataFrame per root,
    * each through the same [[QueryBuilder.run]] the one-root path
    * serves (pushdown/broadcast/pre-projection-sort all carry over;
    * roots are independent plans, so Spark schedules them as separate
    * jobs — at cluster scale they pipeline, nothing is serialized by
    * this list). A [[StreamRoot]] serves its first `streamNPages`
    * pages through [[Subscriptions.streamPages]] (the batch-replay
    * contract the live fold is pinned to) — page count is a serve
    * parameter, not document text, exactly as on the one-root
    * stream path. */
  def runRoots(s: org.apache.spark.sql.SparkSession, dir: String,
      roots: Seq[(String, RootOp)], streamNPages: Int = 3)
      : Seq[(String, org.apache.spark.sql.DataFrame)] =
    roots.map {
      case (k, ReadRoot(r)) => k -> QueryBuilder.run(s, dir, r)
      case (k, ByPkRoot(r)) => k -> QueryBuilder.run(s, dir, r)
      case (k, AggRoot(r)) => k -> QueryBuilder.runAggregate(s, dir, r)
      case (k, StreamRoot(sr)) => k -> Subscriptions.streamPages(
        graft.Tables.load(s, dir, sr.table), sr, streamNPages,
        rel = Some((s, dir)))
    }

  /** One parsed root of a (possibly multi-root) read document: a
    * table read, a `_by_pk` point lookup, a whole-table aggregate, or
    * — under a SUBSCRIPTION operation — a `_stream` cursor root.
    * Hasura batches every query_root field kind freely in one
    * operation; `_stream` lives on subscription_root only, and the
    * engine relaxes the spec's one-root-per-subscription rule the
    * same way its multi-root live reads already do (r18). */
  sealed trait RootOp
  final case class ReadRoot(req: Request) extends RootOp
  final case class AggRoot(req: QueryBuilder.AggRequest) extends RootOp
  /** The `<table>_by_pk` point lookup — semantically a [[ReadRoot]]
    * whose where is the key equality, kept distinct because Hasura's
    * response shape is a nullable OBJECT (at most one row), not a
    * list — renderers and permission rewrites route it as a read. */
  final case class ByPkRoot(req: Request) extends RootOp
  /** A `<table>_stream` cursor root batched into a multi-root
    * subscription document — served by [[Subscriptions.streamPages]]
    * (batch replay) inside [[runRoots]]' all-or-nothing batch. */
  final case class StreamRoot(sr: Subscriptions.StreamRequest)
    extends RootOp

  /** Parse ONE root field — `alias: table(args) @dirs { body }` — into
    * (responseKey, kept, RootOp). ROOT ALIASES (r17) let one document
    * select the same table twice under distinct keys; root
    * @include/@skip gate the field's contribution while it still fully
    * compiles (the conditionalKeep contract). `<table>_by_pk`,
    * `<table>_aggregate`, and — under a subscription operation —
    * `<table>_stream` roots serve here too. Shared by the one-root
    * surfaces ([[oneRoot]]) and [[parseRoots]] (Hasura's multi-root
    * batching); a one-root surface that serves one root kind names
    * its `suffix`, checked before the field's arguments parse. */
  private def parseRootField(p: P, schema: Schema,
      inSubscription: Boolean, suffix: Option[String] = None)
      : (String, Boolean, RootOp) = {
    val rfirst = p.name("root table")
    val (ralias, rootName) =
      if (p.isPunct(':')) {
        p.expect(':'); (Some(rfirst), p.name("root table"))
      } else (None, rfirst)
    suffix.filterNot(rootName.endsWith).foreach(sfx =>
      bad(s"$rootName: expected <table>$sfx (plain reads go through " +
        "parse)"))
    if (rootName.endsWith("_stream")) {
      // a `_stream` cursor root batched next to reads/aggregates
      // (r18): subscription-only, like the one-root surface — a
      // query-operation document refuses the FIELD (the operation
      // kind is the problem, not the batching)
      if (!inSubscription)
        bad(s"$rootName: <table>_stream is a subscription-only " +
          "surface (Hasura serves it over no other operation type)")
      val (kept, sr) = compileStreamField(p, schema, rootName)
      return (ralias.getOrElse(rootName), kept, StreamRoot(sr))
    }
    if (rootName.endsWith("_aggregate")) {
      val (kept, agg) = parseAggRootField(p, rootName,
        rootName.stripSuffix("_aggregate"))
      return (ralias.getOrElse(rootName), kept, AggRoot(agg))
    }
      // Hasura's `<table>_by_pk(<pkcol>: v)` single-object field: one
      // argument named after the TRACKED key column, compiling to an
      // equality filter (a true key yields at most one row, so no
      // limit is needed — the plan stays a pushed-down point lookup)
      val isByPk = rootName.endsWith("_by_pk")
      val table = if (isByPk) rootName.stripSuffix("_by_pk") else rootName
      val args = parseArgs(p)
      // root directives (r17): @include/@skip gate the WHOLE root
      // field; it still fully compiles (the conditionalKeep contract)
      val (rootKeep, rootDirs) = conditionalKeep(parseDirectives(p),
        rootName)
      rootDirs.keySet.foreach(d =>
        bad(s"$rootName: unknown directive @$d"))
      val byPkWhere: Option[BoolExp] =
        if (isByPk) {
          // one argument PER key column (Hasura's composite-by_pk
          // shape) — all required, ANDed into one point predicate
          val pks = schema.keys.getOrElse(table,
            bad(s"$rootName: no tracked primary key for '$table'"))
          checkArgs(args, pks.toSet, rootName)
          Some(compileBool(VObj(pks.map { pk =>
            val v = args.getOrElse(pk,
              bad(s"$rootName: argument $pk is required"))
            pk -> VObj(Seq("_eq" -> v))
          }), rootName))
        } else {
          checkArgs(args,
            Set("where", "order_by", "limit", "offset", "distinct_on"),
            table)
          None
        }
      val distinctOn =
        if (isByPk) Seq.empty[String] else distinctOnArg(args, table)
      p.expect('{')
      // spec §5.3.2 field merging rides [[ScalarMerge]] (shared with
      // the stream loop): identical (response key, source) selections
      // collapse; a re-bound key still trips the Request guard
      val scalars = new ScalarMerge
      val nested = Seq.newBuilder[Nested]
      val aggRels = Seq.newBuilder[AggRel]
      while (!p.isPunct('}')) {
        if (p.isSpread) { resolveSpread(p, table, table) }
        else {
        val first = p.name("selection")
        val (alias, fname) =
          if (p.isPunct(':')) { p.expect(':'); (Some(first), p.name("field")) }
          else (None, first)
        val fargs = parseArgs(p)
        val (keep, fdirs) = conditionalKeep(parseDirectives(p),
          alias.getOrElse(fname))
        if (p.isPunct('{')) {
          if (fname.endsWith("_aggregate")) {
            val relName = fname.stripSuffix("_aggregate")
            val rel = schema.rels.getOrElse((table, relName), bad(
              s"$fname: no tracked relationship '$relName' on '$table'"))
            // an alias nests Hasura's response under the alias key;
            // the flat answer here prefixes every output column with
            // it (`recent: orders_aggregate` → recent_count...), which
            // also serves the same relationship aggregated TWICE
            // under different aliases (the dashboard idiom)
            checkArgs(fargs,
              Set("where", "order_by", "limit", "offset", "distinct_on"),
              fname)
            (fdirs.keySet - "join").foreach(d =>
              bad(s"$fname: unknown directive @$d"))
            p.expect('{')
            var aggs: Seq[AggField] = Nil
            var aggNodes: Seq[String] = Nil
            while (!p.isPunct('}')) {
              // fragments spread at every level of the aggregate
              // shape, with Hasura's type names: the arm wrapper is
              // `<child>_aggregate`, nodes rows are `<child>`, the
              // aggregate fields `<child>_aggregate_fields`
              if (p.isSpread) {
                resolveSpread(p, s"${rel.childTable}_aggregate", fname)
              } else
              p.name("aggregate body") match {
                case "aggregate" =>
                  // same directive parity as the root-aggregate arm:
                  // the arm still fully compiles, only its
                  // contribution gates
                  val (keepA, restA) = conditionalKeep(
                    parseDirectives(p), s"$fname.aggregate")
                  restA.keySet.foreach(d =>
                    bad(s"$fname.aggregate: unknown directive @$d"))
                  val as = compileAggFields(p, fname,
                    s"${rel.childTable}_aggregate_fields",
                    relCount(rel.childKey, fname))
                  if (keepA)
                    aggs = mergeAggArms(s"$fname.aggregate", aggs, as)
                case "nodes" =>
                  // Hasura's nodes arm inside a relationship
                  // aggregate: the (sliced) child rows themselves,
                  // next to their aggregates — one JSON array column
                  // per parent, rendered in the relationship's
                  // order_by order (canonical-sorted without one)
                  val (keepN, restN) = conditionalKeep(
                    parseDirectives(p), s"$fname.nodes")
                  restN.keySet.foreach(d =>
                    bad(s"$fname.nodes: unknown directive @$d"))
                  if (aggNodes.nonEmpty) bad(s"$fname: duplicate nodes")
                  p.expect('{')
                  val ns = Seq.newBuilder[String]
                  var parsedN = 0
                  while (!p.isPunct('}')) {
                    if (p.isSpread) {
                      resolveSpread(p, rel.childTable, s"$fname.nodes")
                    } else {
                    val nf = p.name("nodes field")
                    parsedN += 1
                    val (keepF, restF) = conditionalKeep(
                      parseDirectives(p), s"$fname.nodes.$nf")
                    restF.keySet.foreach(d =>
                      bad(s"$fname.nodes.$nf: unknown directive @$d"))
                    if (keepF) ns += nf
                    }
                  }
                  p.expect('}')
                  if (parsedN == 0)
                    bad(s"$fname.nodes: empty selection set")
                  // an all-excluded nodes arm contributes nothing —
                  // the fully-skipped no-op, as at the root
                  if (keepN) aggNodes = ns.result()
                case other => bad(
                  s"$fname: expected 'aggregate' or 'nodes', " +
                    s"got '$other'")
              }
            }
            p.expect('}')
            val joinType = fdirs.get("join")
              .map(d => strDirArg(d, "join", "type", fname))
              .getOrElse("left")
            // the conditionalKeep contract: an EXCLUDED field still
            // fully COMPILES (malformed where/order_by/limit surface
            // now, not when the flag flips in production) — only the
            // append gates, the compileRelBody/compileMutation pattern
            val a = AggRel(rel.childTable, rel.childKey, rel.parentKey,
              aggs, joinType = joinType,
              where = fargs.get("where")
                .map(compileBool(_, s"$fname.where",
                  Some((schema, rel.childTable)))),
              orderBy = fargs.get("order_by")
                .map(compileOrders(_, s"$fname.order_by")).getOrElse(Nil),
              limit = intArg(fargs, "limit", fname),
              offset = intArg(fargs, "offset", fname).getOrElse(0),
              distinctOn = distinctOnArg(fargs, fname),
              nodes = aggNodes, prefix = alias)
            if (keep) aggRels += a
          } else {
            schema.rels.get((table, fname)) match {
              case Some(rel) =>
                val n = compileRelBody(p, schema, table, fargs,
                  fdirs, alias, fname, rel)
                if (keep) nested += n
              case None =>
                // Hasura OBJECT relationship (many-to-one): the same
                // compile, `single` marks the one-object response
                val rel = schema.objRels.getOrElse((table, fname), bad(
                  s"$fname: no tracked relationship on '$table'"))
                val n = compileRelBody(p, schema, table, fargs,
                  fdirs, alias, fname, rel, single = true)
                if (keep) nested += n
            }
          }
        } else {
          if (fargs.nonEmpty || fdirs.nonEmpty)
            bad(s"$fname: root scalar fields take no arguments/directives")
          // spec field aliases (`id: c_custkey`): the response key is
          // the alias, the source column the field — codegen clients
          // emit them routinely; the flat-columns answer renames the
          // output column (and the oracle aliases identically)
          if (keep) scalars.add(alias, fname)
        }
        }
      }
      p.expect('}')
      val (rootOrders, rootOrderAggs) = args.get("order_by")
        .map(compileOrdersRoot(_, "order_by", schema, table))
        .getOrElse((Nil, Nil))
      val req = Request(
        table = table,
        fields = scalars.fields,
        where = byPkWhere.orElse(args.get("where")
          .map(compileBool(_, "where", Some((schema, table))))),
        orderBy = rootOrders,
        offset = intArg(args, "offset", table).getOrElse(0),
        limit = intArg(args, "limit", table),
        // .distinct = spec 5.3.2 merging for IDENTICAL repeated
        // relationship/aggregate selections (fragment composition)
        nested = nested.result().distinct,
        aggRels = aggRels.result().distinct,
        distinctOn = distinctOn,
        orderAggs = rootOrderAggs,
        fieldAs = scalars.fieldAs)
      // by_pk keeps its own RootOp: Hasura's response there is a
      // nullable single OBJECT, not a list — the run path is the
      // same pushed-down point lookup either way
      (ralias.getOrElse(rootName), rootKeep,
        if (isByPk) ByPkRoot(req) else ReadRoot(req))
  }

  // ---- root aggregates -----------------------------------------------

  /** Parse a ROOT `<table>_aggregate` document — Hasura's
    * whole-table-aggregate query (`{ orders_aggregate(where: ...) {
    * aggregate { count sum { f } } } }`), the read surface its
    * relationship twin doesn't cover: aggregates over the filtered
    * table itself. The count arm serves Hasura's argument forms
    * (`count`, `count(columns: c)`, `count(columns: c, distinct:
    * true)`); the field family (sum/min/max/avg/stddev/variance) is
    * the shared relationship grammar. The header, variable and
    * fragment rules are [[parse]]'s (the shared [[document]] pass):
    * `query` or `subscription` (a live aggregate re-evaluates per
    * trigger) or the shorthand; a multi-operation document needs an
    * operationName. The one root may be aliased. Never throws.
    *
    * Conditional exclusion composes with the AGGREGATE surface's own
    * shape rules: a document whose `aggregate` arm is fully excluded
    * reduces to nodes-only (or to nothing), which this surface
    * refuses BY DESIGN (nodes without aggregates is the plain read's
    * job — RootAggregateSpec pins it) — that Left is the aggregate
    * contract speaking, not a directive error. */
  def parseRootAggregate(query: String, variables: String = "{}",
      operationName: Option[String] = None)
      : Either[String, QueryBuilder.AggRequest] =
    oneRoot(query, variables, operationName, readOps, fixtureSchema,
      Some("_aggregate")) { case (_, AggRoot(req)) => req }

  /** Parse ONE `<table>_aggregate` ROOT field's arguments + body into
    * (kept, AggRequest), for [[parseRootField]] — the one-root
    * [[parseRootAggregate]] and aggregate roots batched next to reads
    * in a multi-root document alike. Root @include/@skip gate the
    * field; it still fully compiles. */
  private def parseAggRootField(p: P, root: String, table: String)
      : (Boolean, QueryBuilder.AggRequest) = {
      val args = parseArgs(p)
      checkArgs(args, Set("where", "order_by", "limit", "offset"), root)
      // root directives (r17): @include/@skip gate the whole
      // aggregate root; it still fully compiles
      val (rootKeep, rootDirs) = conditionalKeep(parseDirectives(p),
        root)
      rootDirs.keySet.foreach(d =>
        bad(s"$root: unknown directive @$d"))
      val where = args.get("where").map(compileBool(_, s"$root.where"))
      // Hasura aggregates the SLICED set: order_by/limit/offset bound
      // the rows the aggregates (and nodes) see, so
      // "stats of the top-100 orders" is one request
      val slice = args.get("order_by")
        .map(compileOrders(_, s"$root.order_by")).getOrElse(Nil)
      val limit = intArg(args, "limit", root)
      val offset = intArg(args, "offset", root).getOrElse(0)
      if ((limit.isDefined || offset > 0) && slice.isEmpty)
        bad(s"$root: limit/offset without order_by aggregates an " +
          "UNDEFINED subset — order the slice")
      p.expect('{')
      var aggs: Seq[AggField] = Nil
      var nodes: Seq[String] = Nil
      while (!p.isPunct('}')) {
        // fragments spread at every level of the aggregate shape,
        // with Hasura's type names: the body is `<table>_aggregate`,
        // nodes rows are `<table>`, the aggregate fields
        // `<table>_aggregate_fields` (spec: spreads are legal in any
        // selection set, in every operation type)
        if (p.isSpread) { resolveSpread(p, root, root) }
        else
        p.name("aggregate body") match {
          case "aggregate" =>
            // @include/@skip gate the aggregate arm like every other
            // selection (spec directives apply to all operation
            // types) — the arm still fully compiles, only its
            // contribution drops
            val (keepA, restA) = conditionalKeep(parseDirectives(p),
              s"$root.aggregate")
            restA.keySet.foreach(d =>
              bad(s"$root.aggregate: unknown directive @$d"))
            val as = compileAggFields(p, root,
              s"${table}_aggregate_fields", rootCount(root))
            if (keepA) aggs = mergeAggArms(s"$root.aggregate", aggs, as)
          case "nodes" =>
            // Hasura's nodes arm: the filtered rows themselves, next
            // to their aggregates — served as one deterministic JSON
            // array column (sorted by the first selected field)
            val (keepN, restN) = conditionalKeep(parseDirectives(p),
              s"$root.nodes")
            restN.keySet.foreach(d =>
              bad(s"$root.nodes: unknown directive @$d"))
            // the duplicate rule counts KEPT arms (an excluded one
            // never contributes, so it cannot occupy the slot)
            if (nodes.nonEmpty) bad(s"$root: duplicate nodes")
            p.expect('{')
            val fs = Seq.newBuilder[String]
            var parsedN = 0
            while (!p.isPunct('}')) {
              if (p.isSpread) {
                resolveSpread(p, table, s"$root.nodes")
              } else {
              val nf = p.name("nodes field")
              parsedN += 1
              val (keepF, restF) = conditionalKeep(parseDirectives(p),
                s"$root.nodes.$nf")
              restF.keySet.foreach(d =>
                bad(s"$root.nodes.$nf: unknown directive @$d"))
              if (keepF) fs += nf
              }
            }
            p.expect('}')
            if (parsedN == 0) bad(s"$root.nodes: empty selection set")
            // an all-excluded nodes arm contributes nothing — the
            // fully-skipped-selection no-op, same as the stream path
            if (keepN) nodes = fs.result()
          case other =>
            bad(s"$root: expected 'aggregate' or 'nodes', got '$other'")
        }
      }
      p.expect('}')
      (rootKeep, QueryBuilder.AggRequest(table, where, aggs, nodes,
        orderBy = slice, limit = limit, offset = offset))
  }

  // ---- streaming subscriptions (`<table>_stream`) --------------------

  /** Parse a Hasura STREAMING subscription — `subscription {
    * <table>_stream(cursor: {initial_value: {<col>: v}, ordering:
    * ASC}, batch_size: n, where: {...}) { fields } }` — to a
    * [[Subscriptions.StreamRequest]]. Hasura's argument type is a
    * one-element LIST of cursor inputs; both the bare-object and
    * one-element-list spellings are accepted, multi-cursor rejects
    * loudly (the engine, like Hasura, streams on one cursor column).
    * `initial_value: null` streams from the beginning; `ordering`
    * defaults ASC. The surface is subscription-only (Hasura serves
    * `_stream` on no other operation type): a `query` operation or
    * the shorthand is refused, a mutation is refused by name, and a
    * tabbed document selects its subscription by operationName. Scalar
    * selections ride the cursor scan directly; RELATIONSHIP selections
    * (r17) compile like a read's and attach per delivered page through
    * QueryBuilder.runOn. Variable and fragment rules are [[parse]]'s
    * (the shared [[document]] pass); the one root may be aliased.
    * Never throws. */
  def parseStream(query: String, schema: Schema = fixtureSchema,
      variables: String = "{}",
      operationName: Option[String] = None)
      : Either[String, Subscriptions.StreamRequest] =
    oneRoot(query, variables, operationName, Set("subscription"), schema,
      Some("_stream")) { case (_, StreamRoot(sr)) => sr }

  /** Compile ONE `<table>_stream` field — arguments (cursor /
    * batch_size / where), root directives, and the selection body —
    * with the parser positioned just past the field name, for
    * [[parseRootField]]: the one-root [[parseStream]] document and a
    * `_stream` root batched into a multi-root subscription (r18)
    * alike. Returns (kept, request): an
    * `@include`/`@skip`-excluded field still fully COMPILES (the
    * conditionalKeep contract — malformed cursors surface at parse,
    * not when the flag flips in production). */
  private def compileStreamField(p: P, schema: Schema, root: String)
      : (Boolean, Subscriptions.StreamRequest) = {
      val table = root.stripSuffix("_stream")
      val args = parseArgs(p)
      // root directives gate the field's contribution in a batch;
      // on the one-root surface an excluded root is a loud no-serve
      val (rootKeep, rootDirs) = conditionalKeep(parseDirectives(p),
        root)
      rootDirs.keySet.foreach(d =>
        bad(s"$root: unknown directive @$d"))
      checkArgs(args, Set("cursor", "batch_size", "where"), root)
      val cursorObj = args.getOrElse("cursor",
        bad(s"$root: cursor is required")) match {
        case VList(Seq(o: VObj)) => o
        case VList(vs) => bad(s"$root.cursor: exactly one cursor " +
          s"input expected, got ${vs.size}")
        case o: VObj => o
        case _ => bad(s"$root.cursor: expected a cursor input object")
      }
      rejectDupKeys(cursorObj.fields, s"$root.cursor")
      val cm = cursorObj.fields.toMap
      (cm.keySet -- Set("initial_value", "ordering")).toSeq.sorted
        .headOption.foreach(k => bad(s"$root.cursor: unknown field '$k'"))
      // COMPOSITE cursors (r19): several entries resume past the
      // LEXICOGRAPHIC tuple (the reference's (Height, TxIndex, MsgID)
      // cursor shape, x/indexer/cursor.go:5-18). From-start spells
      // every component null; a MIXED null/value tuple has no
      // resume-point semantics and is loud.
      val entries = cm.getOrElse("initial_value",
        bad(s"$root.cursor: initial_value is required " +
          "(null to stream from the beginning)")) match {
        case VObj(fs) if fs.nonEmpty =>
          rejectDupKeys(fs, s"$root.cursor.initial_value")
          fs.map {
            case (c, VNull) => (c, None)
            case (c, VLit(v)) => (c, Some(v))
            case (c, _) => bad(s"$root.cursor.initial_value.$c: " +
              "expected a literal or null")
          }
        case _ => bad(s"$root.cursor.initial_value: expected " +
          "{<column>: <literal|null>, ...}")
      }
      val (cursorField, initial, moreCursor) =
        if (entries.forall(_._2.isEmpty) ||
            entries.forall(_._2.isDefined))
          (entries.head._1, entries.head._2, entries.tail)
        else bad(s"$root.cursor.initial_value: a composite cursor " +
          "resumes past a FULL tuple — mix of null and value " +
          "components has no resume point (spell all null to stream " +
          "from the beginning)")
      val ascending = cm.get("ordering") match {
        case None => true
        case Some(VEnum("ASC")) | Some(VLit("ASC")) => true
        case Some(VEnum("DESC")) | Some(VLit("DESC")) => false
        case Some(_) => bad(s"$root.cursor.ordering: expected ASC or DESC")
      }
      val batchSize = intArg(args, "batch_size", root).getOrElse(
        bad(s"$root: batch_size is required"))
      if (batchSize <= 0) bad(s"$root: batch_size must be positive")
      // COLUMN-ONLY where (ctx = None, the mutation-tree posture): a
      // relationship predicate would compile to a RelPred the stream
      // executors cannot evaluate (toColumn throws) — better a parse
      // Left than a first-trigger crash
      val where = args.get("where")
        .map(compileBool(_, s"$root.where"))
      p.expect('{')
      // spec §5.3.2 merging rides the root loop's [[ScalarMerge]]
      val scalars = new ScalarMerge
      val nested = Seq.newBuilder[Nested]
      var parsedFields = 0
      while (!p.isPunct('}')) {
        // fragment spreads on the streamed table — the shared-fragment
        // reuse codegen clients emit across operation types; the body
        // splices and parses under the same scalar-only rules
        if (p.isSpread) { resolveSpread(p, table, root) }
        else {
        val first = p.name("stream selection")
        parsedFields += 1
        // spec field aliases on stream fields, same as reads: the
        // response key is the alias, the source column the field
        val (falias, f) =
          if (p.isPunct(':')) { p.expect(':'); (Some(first), p.name("field")) }
          else (None, first)
        val fargs = parseArgs(p)
        // @include/@skip gate stream fields exactly like reads and
        // mutations (spec directives apply to EVERY operation type;
        // Hasura serves them on subscriptions) — the field still
        // parses, only its delivery drops
        val (keepF, restF) = conditionalKeep(parseDirectives(p),
          s"$root.$f")
        if (p.isPunct('{')) {
          // RELATIONSHIP selections on the delivered rows (r17):
          // array and object rels compile exactly like a read's —
          // the serve path evaluates each page through
          // QueryBuilder.runOn (q193's posture)
          val (r2, single2) = schema.rels.get((table, f))
            .map((_, false))
            .orElse(schema.objRels.get((table, f)).map((_, true)))
            .getOrElse(bad(
              s"$root.$f: no tracked relationship on '$table'"))
          val n = compileRelBody(p, schema, table, fargs, restF,
            falias, f, r2, single = single2)
          if (n.as == "batch_idx") bad(s"$root: 'batch_idx' is the " +
            "reserved page-index column — pick another response key")
          if (keepF) nested += n
        } else {
          restF.keySet.foreach(d =>
            bad(s"$root.$f: unknown directive @$d"))
          if (fargs.nonEmpty)
            bad(s"$root.$f: scalar fields take no arguments")
          if (keepF) {
            // the synthesized page column owns this response key: a
            // user column under it would fail (with relationships) or
            // be silently overwritten (without) at first serve
            if (falias.getOrElse(f) == "batch_idx")
              bad(s"$root: 'batch_idx' is the reserved page-index " +
                "column — pick another response key")
            scalars.add(falias, f)
          }
        }
        }
      }
      p.expect('}')
      val fs = scalars.fields
      // the mutation no-op contract: a selection with no fields AT ALL
      // is malformed; one whose every field was conditionally excluded
      // is the spec's fully-skipped selection — valid, pages still cut
      // (rows deliver with no selected columns), never an error
      if (parsedFields == 0) bad(s"$root: empty selection set")
      (rootKeep, Subscriptions.StreamRequest(table, cursorField, initial,
        ascending = ascending, batchSize = batchSize, where = where,
        fields = fs, fieldAs = scalars.fieldAs,
        nested = nested.result().distinct, moreCursor = moreCursor))
  }

  /** Print a [[Subscriptions.StreamRequest]] back to subscription
    * text — `parseStream(renderStream(sr)) == Right(sr)`, the house
    * printer contract. */
  def renderStream(sr: Subscriptions.StreamRequest,
      schema: Schema = fixtureSchema): String = {
    // an all-fields-excluded request (valid, the fully-skipped
    // no-op) has no directive-free spelling — refuse to render an
    // empty selection set that would not re-parse
    require(sr.fields.nonEmpty || sr.nested.nonEmpty,
      s"${sr.table}_stream: cannot render an empty selection set")
    val sb = new StringBuilder
    val cursorEntries = ((sr.cursorField, sr.initial) +: sr.moreCursor)
      .map { case (c, v) =>
        s"$c: ${v.map(renderLit).getOrElse("null")}" }
      .mkString(", ")
    sb ++= "subscription {\n  " ++= sr.table ++= "_stream(cursor: " ++=
      "{initial_value: {" ++= cursorEntries ++= "}, ordering: " ++=
      (if (sr.ascending) "ASC" else "DESC") ++=
      s"}, batch_size: ${sr.batchSize}"
    sr.where.foreach(w =>
      sb ++= ", where: " ++= renderBoolExp(w, Some((schema, sr.table))))
    sb ++= ") {\n"
    sr.fields.foreach { f =>
      sb ++= "    "
      sr.fieldAs.get(f).foreach(_ => sb ++= f ++= ": ")
      sb ++= sr.fieldAs.getOrElse(f, f) ++= "\n"
    }
    sr.nested.foreach(n => renderNested(sb, schema, sr.table, n,
      indent = 4))
    sb ++= "  }\n}"
    sb.toString
  }

  /** q148's document — Hasura's JSONB comparison family over the
    * events `props` JSON-text column: key-existence in all three
    * spellings, containment, subset containment, and a negated
    * existence proving the three-valued logic composes. */
  val q148Query: String =
    """{
      |  events(where: {_and: [
      |      {props: {_has_keys_all: ["k"]}},
      |      {props: {_has_keys_any: ["k", "zz"]}},
      |      {props: {_contains: {k: 69}}},
      |      {props: {_contained_in: {k: 69, extra: 1}}},
      |      {_not: {props: {_has_key: "zz"}}}]},
      |    order_by: [{event_id: asc}], limit: 50) {
      |    event_id event_type props
      |  }
      |}""".stripMargin

  /** q148 — the JSONB operator family end to end: GraphQL text →
    * HasKey/HasKeysAny/HasKeysAll/JsonContains/JsonContainedIn leaves
    * → json_object_keys / variant-typed equality over the scan,
    * against DuckDB's native json_keys/json_type/json_extract_string
    * spellings (both sides typed: a string "69" never matches the
    * number literal 69). */
  def q148JsonbOps(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q148Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q148 GraphQL query failed to parse: $m")
    }

  /** q149's document — Hasura's `nodes` arm INSIDE a relationship
    * aggregate: the sliced child rows (top-2 by price) next to their
    * aggregates, per parent, childless parents answering count 0 and
    * `[]`. */
  val q149Query: String =
    """{
      |  customer(where: {c_custkey: {_lte: 20}},
      |           order_by: [{c_custkey: asc}]) {
      |    c_custkey
      |    orders_aggregate(where: {o_totalprice: {_gt: 200000.0}},
      |        order_by: [{o_totalprice: desc}, {o_orderkey: asc}],
      |        limit: 2) {
      |      aggregate { count sum { o_totalprice } }
      |      nodes { o_orderkey }
      |    }
      |  }
      |}""".stripMargin

  /** q149 — relationship-aggregate `nodes` under the oracle gate: the
    * JSON array rides the SAME per-parent pre-aggregation as the
    * aggregates (one extra ordered collect column, no second child
    * scan) and renders in the relationship's ORDER_BY order (price
    * desc, key tiebreak — Hasura's nodes honor order_by), byte-exact
    * vs DuckDB's to_json(list(... ORDER BY ...)) over the same
    * windowed top-2 slice. */
  def q149AggRelNodes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q149Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q149 GraphQL query failed to parse: $m")
    }

  /** q153's document — Hasura OBJECT relationships (many-to-one): the
    * `customer` object selected per order, filtered THROUGH the
    * relationship in the where tree, and ordered by the related row's
    * column. */
  val q153Query: String =
    """{
      |  orders(where: {_and: [
      |      {o_totalprice: {_gt: 450000.0}},
      |      {customer: {c_mktsegment: {_eq: "BUILDING"}}}]},
      |    order_by: [{customer: {c_name: desc}}, {o_orderkey: asc}],
      |    limit: 40) {
      |    o_orderkey o_totalprice
      |    customer { c_name c_mktsegment }
      |  }
      |}""".stripMargin

  /** q153 — object relationships end to end: the one-row "group"
    * rides the SAME pre-aggregate-and-join machinery as array
    * relationships (single flag → the struct itself, null when
    * absent), the where-tree predicate decorrelates like any EXISTS,
    * and the order_by column joins through the hidden OrderAgg
    * (max of a one-row group = the value). DuckDB replays it as a
    * plain join. */
  def q153ObjectRel(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q153Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q153 GraphQL query failed to parse: $m")
    }

  /** q145's document — the streaming-subscription read surface: a
    * cursor past event 3000 over the filtered click stream, seven
    * rows per page. */
  val q145Query: String =
    """subscription {
      |  events_stream(
      |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
      |    batch_size: 7,
      |    where: {event_type: {_eq: "click"}}) {
      |    event_id user_id event_type value
      |  }
      |}""".stripMargin

  /** q145 — Hasura's `<table>_stream` surface end to end on the BATCH
    * replay contract: subscription text → [[parseStream]] →
    * [[Subscriptions.streamPages]] (first 3 pages), against a DuckDB
    * row_number replay of the same cursor paging. The LIVE path
    * ([[Subscriptions.streamServe]]) is pinned to this same answer by
    * SubscriptionsSpec (page-aligned triggers ≡ streamPages; cursor
    * redelivery and late-row drop semantics spec'd). */
  def q145StreamPages(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseStream(q145Query) match {
      case Right(sr) => Subscriptions.streamPages(
        graft.Tables.load(s, dir, sr.table), sr, nPages = 3)
      case Left(m) => throw new IllegalStateException(
        s"canned q145 stream subscription failed to parse: $m")
    }

  /** q183's document — CONDITIONAL directives on the STREAM surface,
    * inside a MULTI-OPERATION document (the GraphiQL tabbed shape the
    * q178/q179 pattern pinned for reads): the chosen subscription
    * toggles fields with `@include`/`@skip` driven by `$all`, the
    * decoy streams a different cursor, and the POSTed variables carry
    * an extra binding only the decoy-less strict check would reject
    * (the spec's CoerceVariableValues ignores extraneous values on
    * multi-operation documents). */
  val q183Doc: String =
    """subscription Pick($all: Boolean!) {
      |  events_stream(
      |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
      |    batch_size: 7,
      |    where: {event_type: {_eq: "click"}}) {
      |    event_id
      |    user_id @include(if: $all)
      |    event_type @skip(if: $all)
      |    value @include(if: $all)
      |  }
      |}
      |subscription Decoy {
      |  events_stream(cursor: {initial_value: {event_id: null}},
      |                batch_size: 5) { event_id }
      |}""".stripMargin

  /** q183 — `@include`/`@skip` + `operationName` on the `_stream`
    * surface end to end (the directive-parity gap VERDICT r13 ranked
    * first): with `$all = false` the subscription delivers exactly
    * (event_id, event_type) pages; an engine ignoring the directives
    * (extra columns), the operation selection (wrong cursor), or the
    * extraneous-variable tolerance (parse Left) fails the oracle. */
  def q183StreamDirectives(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseStream(q183Doc,
        variables = """{"all": false, "spare": 1}""",
        operationName = Some("Pick")) match {
      case Right(sr) => Subscriptions.streamPages(
        graft.Tables.load(s, dir, sr.table), sr, nPages = 3)
      case Left(m) => throw new IllegalStateException(
        s"canned q183 stream subscription failed to parse: $m")
    }

  /** q191's document — FRAGMENTS on the `_stream` surface (the
    * operation-type parity gap VERDICT r14 ranked first): the chosen
    * subscription's whole selection is a named spread whose body
    * carries a variable-driven `@skip` (fragments and directives
    * compose, the Apollo fragment-toggle idiom), inside a
    * multi-operation document whose decoy spreads its OWN fragment —
    * document-wide fragment-use must see through the non-chosen
    * operation. */
  val q191Doc: String =
    """fragment PageCols on events {
      |  event_id
      |  user_id @skip(if: $hide)
      |  value
      |}
      |subscription Pick($hide: Boolean!) {
      |  events_stream(
      |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
      |    batch_size: 7,
      |    where: {event_type: {_eq: "click"}}) {
      |    ...PageCols
      |  }
      |}
      |subscription Decoy {
      |  events_stream(cursor: {initial_value: {event_id: null}},
      |                batch_size: 5) { ...DecoyCols }
      |}
      |fragment DecoyCols on events { event_id }""".stripMargin

  /** q191 — fragment spreads on the `_stream` subscription surface
    * end to end: with `$hide = true` the pages deliver exactly
    * (event_id, value); an engine refusing spreads outside read
    * documents (the pre-r15 posture), mis-resolving the directive
    * inside the fragment body, or flagging the decoy-only fragment
    * as unused fails the oracle. */
  def q191FragmentStream(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseStream(q191Doc,
        variables = """{"hide": true}""",
        operationName = Some("Pick")) match {
      case Right(sr) => Subscriptions.streamPages(
        graft.Tables.load(s, dir, sr.table), sr, nPages = 3)
      case Left(m) => throw new IllegalStateException(
        s"canned q191 stream subscription failed to parse: $m")
    }

  /** q192's document — a root aggregate spelled ENTIRELY in
    * fragments, one per level of the shape with Hasura's type names:
    * the body wrapper on `orders_aggregate`, the aggregate functions
    * on `orders_aggregate_fields`, the nodes rows on `orders`. The
    * request compiles to exactly q132's (same where, aggregates,
    * nodes), so the fragment machinery is the only thing under
    * test. */
  val q192Doc: String =
    """fragment Body on orders_aggregate {
      |  aggregate { ...Fns }
      |  nodes { ...Rows }
      |}
      |fragment Fns on orders_aggregate_fields {
      |  count
      |  sum { o_totalprice }
      |}
      |fragment Rows on orders { o_orderkey o_custkey }
      |{
      |  orders_aggregate(where: {_and: [
      |      {o_orderstatus: {_eq: "P"}},
      |      {o_totalprice: {_gt: 485000.0}}]}) {
      |    ...Body
      |  }
      |}""".stripMargin

  /** q192 — fragments in AGGREGATE documents under the oracle gate:
    * the fragment-spelled document answers byte-identically to q132's
    * inline spelling (same plan, same JSON nodes render). */
  def q192FragmentAggregate(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseRootAggregate(q192Doc) match {
      case Right(r) => QueryBuilder.runAggregate(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q192 aggregate failed to parse: $m")
    }

  /** q197's document — FIELD ALIASES on root scalars (spec §2.7, the
    * response-key rename every codegen client emits): the response
    * keys are the aliases, `__typename` answers under its own alias,
    * and the order_by references the SOURCE column (`c_acctbal`) that
    * the alias renamed out of the projection — Hasura orders by table
    * columns regardless of response keys, so the sort must resolve
    * through the rename. */
  val q197Query: String =
    """query Rename($seg: String!) {
      |  customer(where: {c_mktsegment: {_eq: $seg}},
      |           order_by: [{c_acctbal: desc}, {c_custkey: asc}],
      |           limit: 25) {
      |    id: c_custkey
      |    balance: c_acctbal
      |    c_mktsegment
      |    t: __typename
      |  }
      |}""".stripMargin

  /** q197 — aliased root scalars end to end: the flat answer carries
    * the ALIAS column names; an engine refusing aliases (the pre-r15
    * posture), answering under source names, or failing to order by
    * the renamed-away source column fails the oracle. */
  def q197AliasRead(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q197Query, variables = """{"seg": "BUILDING"}""") match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q197 failed to parse: $m")
    }

  /** q198's document — field aliases on the `_stream` surface
    * (aliases apply to EVERY operation type, and the cursor column
    * itself is aliased: paging advances on the SOURCE column, the
    * delivery renames). */
  val q198Doc: String =
    """subscription {
      |  events_stream(
      |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
      |    batch_size: 7,
      |    where: {event_type: {_eq: "view"}}) {
      |    id: event_id
      |    kind: event_type
      |    v: value
      |  }
      |}""".stripMargin

  /** q198 — aliased stream fields through the page-cut replay: pages
    * deliver (batch_idx, id, kind, v); the cursor still advances on
    * `event_id` under the rename. */
  def q198AliasStream(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseStream(q198Doc) match {
      case Right(sr) => Subscriptions.streamPages(
        graft.Tables.load(s, dir, sr.table), sr, nPages = 3)
      case Left(m) => throw new IllegalStateException(
        s"canned q198 stream subscription failed to parse: $m")
    }

  // ---- mutations -----------------------------------------------------

  /** Spec §5.6.3: input-object keys are UNIQUE — last-wins (or
    * And-both) would silently change meaning. Shared rejection with a
    * deterministic sorted message. */
  private def rejectDupKeys(fs: Seq[(String, _)], at: String): Unit = {
    val dups = fs.map(_._1).groupBy(identity).filter(_._2.size > 1)
      .keys.toSeq.sorted
    if (dups.nonEmpty)
      bad(s"$at: duplicate field(s) ${dups.mkString(", ")}")
  }

  private def litValue(v: V, at: String): Any = v match {
    case VLit(x) => x
    case VNull => null
    case _ => bad(s"$at: expected a literal value")
  }

  private def objEntries(v: V, at: String): Seq[(String, Any)] = v match {
    case VObj(fs) =>
      // last-wins here would be a silent order-dependent write
      // (`_set: {seg: "A", seg: "B"}` writing B with affected_rows
      // reporting success)
      rejectDupKeys(fs, at)
      fs.map { case (k, sub) => k -> litValue(sub, s"$at.$k") }
    case _ => bad(s"$at: expected an object")
  }

  /** Render a parsed GraphQL literal to JSON text — the operand form
    * [[graft.functions.JsonbOps]] consumes for `_append`/`_prepend`
    * (strings escape through Jackson, so the text is always valid
    * JSON). Enums and non-JSON literals are loud. */
  private def vToJson(v: V, at: String): String = v match {
    case VNull => "null"
    case VLit(s: String) => mapper.writeValueAsString(s)
    case VLit(b: Boolean) => b.toString
    case VLit(l: Long) => l.toString
    case VLit(d: Double) =>
      if (d.isNaN || d.isInfinite)
        bad(s"$at: $d is not JSON-representable")
      d.toString
    case VLit(other) => bad(s"$at: ${other.getClass.getSimpleName} " +
      "is not a JSON value")
    case VEnum(n) => bad(s"$at: enum $n is not a JSON value")
    case VList(vs) => vs.zipWithIndex
      .map { case (x, i) => vToJson(x, s"$at[$i]") }
      .mkString("[", ",", "]")
    case VObj(fs) =>
      rejectDupKeys(fs, at)
      fs.map { case (k, x) =>
        mapper.writeValueAsString(k) + ":" + vToJson(x, s"$at.$k") }
        .mkString("{", ",", "}")
  }

  /** The argument names of Hasura's JSONB update operator family. */
  private val jsonbArgNames = Set("_append", "_prepend", "_delete_key",
    "_delete_elem", "_delete_at_path")

  /** Parse the JSONB operator arguments of an update — each is
    * `{<column>: <operand>}` — to the (column, op) pairs
    * [[Mutations.Update]] carries. Shared by `update_<t>`,
    * `update_<t>_by_pk`, and `update_<t>_many` steps (Hasura serves
    * the family on all three). */
  private def jsonbArgs(m: Map[String, V], at: String)
      : Seq[(String, graft.functions.JsonbOps.Op)] = {
    import graft.functions.JsonbOps
    def cols(arg: String)(mk: (V, String) => JsonbOps.Op)
        : Seq[(String, JsonbOps.Op)] =
      m.get(arg).toSeq.flatMap {
        case VObj(fs) =>
          if (fs.isEmpty) bad(s"$at.$arg: empty object")
          rejectDupKeys(fs, s"$at.$arg")
          fs.map { case (c, v) => c -> mk(v, s"$at.$arg.$c") }
        case _ => bad(s"$at.$arg: expected {<column>: <value>}")
      }
    cols("_append")((v, p) => JsonbOps.Append(vToJson(v, p))) ++
      cols("_prepend")((v, p) => JsonbOps.Prepend(vToJson(v, p))) ++
      cols("_delete_key")((v, p) => v match {
        case VLit(s: String) => JsonbOps.DeleteKey(s)
        case _ => bad(s"$p: expected a string key")
      }) ++
      cols("_delete_elem")((v, p) => v match {
        case VLit(l: Long) =>
          if (!l.isValidInt) bad(s"$p: index $l out of int range")
          JsonbOps.DeleteElem(l.toInt)
        case _ => bad(s"$p: expected an integer index")
      }) ++
      cols("_delete_at_path")((v, p) => v match {
        case VList(es) =>
          if (es.isEmpty) bad(s"$p: empty path")
          JsonbOps.DeleteAtPath(es.zipWithIndex.map {
            case (VLit(s: String), _) => s
            case (VLit(l: Long), _) => l.toString
            case (_, i) =>
              bad(s"$p[$i]: path elements are keys or indexes")
          })
        case _ => bad(s"$p: expected a path list")
      })
  }

  /** Hasura's `on_conflict: {constraint: ..., update_columns: [...],
    * where: {...}}`. The constraint NAMES a Postgres unique constraint
    * there; this engine's store has exactly one key, so the name is
    * accepted and unused — `update_columns` is what selects the
    * conflict policy (listed columns update; `[]` is DO NOTHING).
    * `where` (r18) is the CONDITIONAL upsert: the update applies only
    * where the predicate holds on the EXISTING row — compiled
    * column-only (it evaluates row-locally on the stored snapshot; a
    * relationship predicate would have nothing to decorrelate against
    * at apply time). Returns (update_columns, where). */
  private def onConflictArg(args: Map[String, V],
      at: String): Option[(Seq[String], Option[QueryBuilder.BoolExp])] =
    args.get("on_conflict").map {
      case VObj(fs) =>
        // toMap's last-wins would silently drop an earlier
        // update_columns list
        rejectDupKeys(fs, s"$at.on_conflict")
        val m = fs.toMap
        (m.keySet -- Set("constraint", "update_columns", "where"))
          .toSeq.sorted
          .headOption.foreach(k =>
            bad(s"$at.on_conflict: unknown field '$k'"))
        val cw = m.get("where")
          .map(compileBool(_, s"$at.on_conflict.where"))
        val cols = m.getOrElse("update_columns",
          bad(s"$at.on_conflict: update_columns is required " +
            "([] for do-nothing)")) match {
          case VList(vs) => vs.map {
            case VEnum(c) => c
            case VLit(s: String) => s
            case _ =>
              bad(s"$at.on_conflict.update_columns: expected column names")
          }
          case VEnum(c) => Seq(c)
          case _ =>
            bad(s"$at.on_conflict.update_columns: expected column names")
        }
        if (cw.isDefined && cols.isEmpty)
          bad(s"$at.on_conflict: where needs update_columns — " +
            "there is no update to condition otherwise")
        (cols, cw)
      case _ => bad(s"$at.on_conflict: expected an object")
    }

  /** One INSERT object: literal columns plus Hasura's NESTED-insert
    * entries, RECURSIVE to arbitrary depth (r18) — a value that is an
    * OBJECT must be a tracked relationship's `{data: ..., on_conflict:
    * ...}` (columns hold literals only in this engine, so the shapes
    * cannot collide). An ARRAY relationship's `data` is a list of
    * child objects — each parses back through THIS function, so
    * children nest their own relationships — with the foreign key
    * STITCHED from the parent object's key (which the parent must
    * therefore carry literally; no read-back, the whole tree stays a
    * driver-side request payload). An OBJECT relationship's `data` is
    * ONE related object inserted BEFORE this row, whose key stitches
    * INTO this row's FK column. Spelling a stitched column yourself is
    * rejected on both sides (a mismatch with the stitched value would
    * silently detach the rows).
    *
    * Returns (row, before, children): `before` are the
    * object-relationship subtrees (insert first), `children` the
    * array-relationship subtrees (insert after). */
  private def insertObject(table: String, v: V, at: String,
      schema: Schema): (Seq[(String, Any)],
        Seq[Mutations.Mutation], Seq[Mutations.Mutation]) =
    v match {
      case VObj(fs) =>
        val row = Seq.newBuilder[(String, Any)]
        val arrEntries = Seq.newBuilder[(String, Seq[(String, V)])]
        val objRelEntries = Seq.newBuilder[(String, Seq[(String, V)])]
        // a duplicated column would land last-wins through the
        // row's toMap
        rejectDupKeys(fs, at)
        fs.foreach {
          case (k, VObj(ofs)) =>
            if (schema.rels.contains((table, k))) arrEntries += ((k, ofs))
            else if (schema.objRels.contains((table, k)))
              objRelEntries += ((k, ofs))
            else bad(s"$at.$k: an object value must be a tracked " +
              s"relationship on '$table' (columns take literals)")
          case (k, sub) => row += k -> litValue(sub, s"$at.$k")
        }
        val rowSeq0 = row.result()
        // the shared {data, on_conflict} envelope checks
        def envelope(k: String, ofs: Seq[(String, V)])
            : Map[String, V] = {
          rejectDupKeys(ofs, s"$at.$k")
          val m = ofs.toMap
          (m.keySet -- Set("data", "on_conflict")).toSeq.sorted
            .headOption.foreach(x => bad(s"$at.$k: unknown field '$x' " +
              "(a nested insert is {data: ..., on_conflict: ...})"))
          m
        }
        // a subtree node: the plain Insert when the parsed object had
        // no nested relationships of its own, the recursive tree
        // otherwise
        def node(ins: Mutations.Insert, before: Seq[Mutations.Mutation],
            kids: Seq[Mutations.Mutation]): Mutations.Mutation =
          if (before.isEmpty && kids.isEmpty) ins
          else Mutations.InsertTree(ins, kids, before)
        // OBJECT relationships first: the related row inserts BEFORE
        // this one, and its key stitches INTO this row's FK column
        val before = Seq.newBuilder[Mutations.Mutation]
        val stitched = objRelEntries.result().map { case (k, ofs) =>
          val rel = schema.objRels((table, k))
          val m = envelope(k, ofs)
          val dataObj = m.getOrElse("data",
            bad(s"$at.$k: data is required")) match {
            case o @ VObj(_) => o
            case _ => bad(s"$at.$k.data: expected ONE object (an " +
              "object relationship inserts a single related row)")
          }
          val (rrow, rbefore, rkids) =
            insertObject(rel.childTable, dataObj, s"$at.$k.data", schema)
          val keyVal = rrow.toMap.getOrElse(rel.childKey,
            bad(s"$at.$k.data: the related object must carry " +
              s"${rel.childKey} literally to stitch this row's " +
              s"${rel.parentKey}"))
          if (keyVal == null)
            bad(s"$at.$k.data: ${rel.childKey} cannot be null on a " +
              "related object being stitched")
          if (rowSeq0.exists(_._1 == rel.parentKey))
            bad(s"$at: do not set ${rel.parentKey} — it is stitched " +
              s"from $k's ${rel.childKey}")
          val oc = onConflictArg(m, s"$at.$k")
          before += node(Mutations.Insert(rel.childTable, Seq(rrow),
            updateColumns = oc.map(_._1),
            conflictWhere = oc.flatMap(_._2)), rbefore, rkids)
          rel.parentKey -> keyVal
        }
        // two object relationships stitching the SAME FK column would
        // write an order-dependent value — refuse
        val dupFk = stitched.map(_._1).groupBy(identity)
          .filter(_._2.size > 1).keys
        if (dupFk.nonEmpty)
          bad(s"$at: object relationships stitch column(s) " +
            s"${dupFk.mkString(", ")} more than once")
        val rowSeq = rowSeq0 ++ stitched
        val rowMap = rowSeq.toMap
        // ARRAY relationships: child rows (recursively parsed) insert
        // AFTER this row, their FK stitched from THIS object's key
        val kids = arrEntries.result().map { case (k, ofs) =>
          val rel = schema.rels((table, k))
          val m = envelope(k, ofs)
          val dataObjs = m.getOrElse("data",
            bad(s"$at.$k: data is required")) match {
            case VList(vs) => vs
            case o @ VObj(_) => Seq(o)
            case _ => bad(s"$at.$k.data: expected a list of objects")
          }
          if (dataObjs.isEmpty) bad(s"$at.$k.data: empty objects list")
          val fkVal = rowMap.getOrElse(rel.parentKey,
            bad(s"$at.$k: the parent object must carry " +
              s"${rel.parentKey} literally to stitch the child " +
              "foreign key"))
          if (fkVal == null)
            bad(s"$at.$k: ${rel.parentKey} cannot be null on a parent " +
              "with nested rows")
          val parsed = dataObjs.zipWithIndex.map { case (o, i) =>
            val (crow, cbefore, ckids) =
              insertObject(rel.childTable, o, s"$at.$k.data[$i]", schema)
            if (crow.exists(_._1 == rel.childKey))
              bad(s"$at.$k.data[$i]: do not set ${rel.childKey} — it " +
                s"is stitched from the parent's ${rel.parentKey}")
            (crow :+ (rel.childKey -> fkVal), cbefore, ckids)
          }
          // all data rows share ONE Insert (keeps the within-list
          // duplicate-key check whole); grandchildren hang off it
          val oc = onConflictArg(m, s"$at.$k")
          node(Mutations.Insert(rel.childTable, parsed.map(_._1),
              updateColumns = oc.map(_._1),
              conflictWhere = oc.flatMap(_._2)),
            parsed.flatMap(_._2), parsed.flatMap(_._3))
        }
        (rowSeq, before.result(), kids)
      case _ => bad(s"$at: expected an object")
    }

  /** pk_columns equalities: the argument object names the key
    * column(s) explicitly (Hasura's by_pk shape, composite keys
    * included — one entry per component). When the table's key is
    * TRACKED in the schema, the named set must BE that key — Hasura
    * rejects a non-PK pk_columns entry, and a typo here would
    * otherwise narrow the write silently (or surface late as an
    * unresolved-column AnalysisException); an untracked table defers
    * the full-key check to the store layer, which knows its key.
    * Several entries AND into one point predicate. */
  private def byPkWhere(v: V, at: String, table: String,
      schema: Schema): QueryBuilder.BoolExp = {
    val pairs = objEntries(v, at)
    if (pairs.isEmpty) bad(s"$at: at least one key column")
    pairs.foreach { case (pkCol, pkVal) =>
      if (pkVal == null) bad(s"$at.$pkCol: the key cannot be null")
    }
    checkPkNames(pairs.map(_._1), at, table, schema)
    val eqs = pairs.map { case (c, pv) => QueryBuilder.Eq(c, pv) }
    if (eqs.length == 1) eqs.head else QueryBuilder.And(eqs: _*)
  }

  private def checkPkNames(names: Seq[String], at: String,
      table: String, schema: Schema): Unit =
    schema.keys.get(table).foreach { ks =>
      val extra = names.filterNot(ks.contains)
      if (extra.nonEmpty)
        bad(s"$at: '${extra.head}' is not a primary-key column of " +
          s"'$table' (the tracked key is ${ks.mkString(", ")})")
      val missing = ks.filterNot(names.contains)
      if (missing.nonEmpty)
        bad(s"$at: key column '${missing.head}' of '$table' is " +
          "required")
      if (names.distinct.size != names.size)
        bad(s"$at: duplicate key column")
    }

  /** → (mutation, single): `single` marks the by_pk verbs, whose
    * response is the row object rather than `{ affected_rows }`. */
  private def compileMutation(fname: String, args: Map[String, V],
      schema: Schema): (Mutations.Mutation, Boolean) =
    if (fname.startsWith("insert_") && fname.endsWith("_one")) {
      // Hasura's single-object spelling: insert_<t>_one(object: {...})
      val table = fname.stripPrefix("insert_").stripSuffix("_one")
      checkArgs(args, Set("object", "on_conflict"), fname)
      val (row, before, kids) = insertObject(table,
        args.getOrElse("object",
          bad(s"$fname: object is required")), s"$fname.object", schema)
      val oc = onConflictArg(args, fname)
      val ins = Mutations.Insert(table, Seq(row),
        updateColumns = oc.map(_._1), conflictWhere = oc.flatMap(_._2))
      (if (kids.isEmpty && before.isEmpty) ins
       else Mutations.InsertTree(ins, kids, before), false)
    } else if (fname.startsWith("update_") && fname.endsWith("_by_pk")) {
      // update_<t>_by_pk(pk_columns: {<pk>: v}, _set/_inc) → one-row
      // update; the response is the post-update row (or null)
      val table = fname.stripPrefix("update_").stripSuffix("_by_pk")
      checkArgs(args, Set("pk_columns", "_set", "_inc") ++
        jsonbArgNames, fname)
      val where = byPkWhere(args.getOrElse("pk_columns",
        bad(s"$fname: pk_columns is required")), s"$fname.pk_columns",
        table, schema)
      val set = args.get("_set").map(objEntries(_, s"$fname._set"))
        .getOrElse(Nil)
      val inc = args.get("_inc").map(objEntries(_, s"$fname._inc"))
        .getOrElse(Nil)
      val jb = jsonbArgs(args, fname)
      if (set.isEmpty && inc.isEmpty && jb.isEmpty)
        bad(s"$fname: needs _set and/or _inc (or a jsonb operator)")
      (Mutations.Update(table, where, set, inc, jb), true)
    } else if (fname.startsWith("delete_") && fname.endsWith("_by_pk")) {
      // delete_<t>_by_pk(<pk1>: v1[, <pk2>: v2...]) — the arguments
      // ARE the key columns (Hasura names one per PK component);
      // response = the deleted row's prior values (or null)
      val table = fname.stripPrefix("delete_").stripSuffix("_by_pk")
      if (args.isEmpty)
        bad(s"$fname: the key column argument(s) are required")
      checkPkNames(args.keys.toSeq, fname, table, schema)
      val eqs = args.toSeq.map { case (pkCol, v) =>
        val pkVal = litValue(v, s"$fname.$pkCol")
        if (pkVal == null) bad(s"$fname.$pkCol: the key cannot be null")
        QueryBuilder.Eq(pkCol, pkVal)
      }
      (Mutations.Delete(table,
        if (eqs.length == 1) eqs.head
        else QueryBuilder.And(eqs: _*)), true)
    } else if (fname.startsWith("update_") && fname.endsWith("_many")) {
      // Hasura's multi-update verb: updates apply in LIST order, each
      // seeing the previous ones' writes; the response is per update
      val table = fname.stripPrefix("update_").stripSuffix("_many")
      checkArgs(args, Set("updates"), fname)
      val steps = args.getOrElse("updates",
        bad(s"$fname: updates is required")) match {
        case VList(vs) => vs.zipWithIndex.map { case (v, i) =>
          val at = s"$fname.updates[$i]"
          val fs = v match {
            case VObj(f) => f
            case _ => bad(s"$at: expected {where, _set, _inc}")
          }
          rejectDupKeys(fs, at)
          val m = fs.toMap
          (m.keySet -- Set("where", "_set", "_inc") -- jsonbArgNames)
            .toSeq.sorted
            .headOption.foreach(k => bad(s"$at: unknown field '$k'"))
          val where = compileBool(m.getOrElse("where",
            bad(s"$at: where is required — Hasura's own rule")),
            s"$at.where", Some((schema, table)))
          val set = m.get("_set").map(objEntries(_, s"$at._set"))
            .getOrElse(Nil)
          val inc = m.get("_inc").map(objEntries(_, s"$at._inc"))
            .getOrElse(Nil)
          val jb = jsonbArgs(m, at)
          if (set.isEmpty && inc.isEmpty && jb.isEmpty)
            bad(s"$at: needs _set and/or _inc (or a jsonb operator)")
          Mutations.Update(table, where, set, inc, jb)
        }
        case _ => bad(s"$fname.updates: expected a list of updates")
      }
      if (steps.isEmpty) bad(s"$fname.updates: empty list")
      (Mutations.UpdateMany(table, steps), false)
    } else if (fname.startsWith("insert_")) {
      val table = fname.stripPrefix("insert_")
      checkArgs(args, Set("objects", "on_conflict"), fname)
      val parsed = (args.getOrElse("objects",
        bad(s"$fname: objects is required")) match {
        case VList(vs) => vs
        case o @ VObj(_) => Seq(o)
        case _ => bad(s"$fname.objects: expected a list of objects")
      }).map(insertObject(table, _, s"$fname.objects", schema))
      val oc = onConflictArg(args, fname)
      val ins = Mutations.Insert(table, parsed.map(_._1),
        updateColumns = oc.map(_._1), conflictWhere = oc.flatMap(_._2))
      val before = parsed.flatMap(_._2)
      val kids = parsed.flatMap(_._3)
      (if (kids.isEmpty && before.isEmpty) ins
       else Mutations.InsertTree(ins, kids, before), false)
    } else if (fname.startsWith("update_")) {
      val table = fname.stripPrefix("update_")
      checkArgs(args, Set("where", "_set", "_inc") ++ jsonbArgNames,
        fname)
      val where = compileBool(args.getOrElse("where",
        bad(s"$fname: where is required — Hasura's own rule; an " +
          "unfiltered update needs an explicit always-true predicate")),
        s"$fname.where", Some((schema, table)))
      val set = args.get("_set").map(objEntries(_, s"$fname._set"))
        .getOrElse(Nil)
      val inc = args.get("_inc").map(objEntries(_, s"$fname._inc"))
        .getOrElse(Nil)
      val jb = jsonbArgs(args, fname)
      if (set.isEmpty && inc.isEmpty && jb.isEmpty)
        bad(s"$fname: needs _set and/or _inc (or a jsonb operator)")
      (Mutations.Update(table, where, set, inc, jb), false)
    } else if (fname.startsWith("delete_")) {
      val table = fname.stripPrefix("delete_")
      checkArgs(args, Set("where"), fname)
      (Mutations.Delete(table, compileBool(args.getOrElse("where",
        bad(s"$fname: where is required — Hasura's own rule")),
        s"$fname.where", Some((schema, table)))), false)
    } else bad(s"unknown mutation field '$fname' " +
      "(insert_/update_/delete_<table>[_by_pk], insert_<table>_one)")

  /** Parse a GraphQL MUTATION document — Hasura's auto-generated write
    * surface over the tracked tables (`insert_<t>(objects: [...])`,
    * `insert_<t>_one(object: {...})`, `update_<t>(where, _set, _inc)`,
    * `delete_<t>(where)`; the reference's README discusses granting
    * exactly these, /root/reference/README.md:68-70) → the ordered
    * [[Mutations.Mutation]] list [[Mutations.applyAll]] executes.
    * Each field's selection set must be `{ affected_rows }`: that is
    * the response this engine serves; `returning` would re-read
    * mid-document state and is rejected loudly, like every unsupported
    * argument (a silently-dropped `_set` key writing nothing is the
    * mutation analog of the dropped-filter failure mode). Operation
    * variables work exactly as in [[parse]]. Never throws. */
  def parseMutations(doc: String, variables: String = "{}",
      schema: Schema = fixtureSchema)
      : Either[String, Seq[Mutations.Mutation]] =
    parseMutationFields(doc, variables, schema).flatMap { fields =>
      fields.find(f => f.returning.isDefined) match {
        case Some(f) => Left(s"mutation on '${f.m.table}': this entry " +
          "point serves affected_rows-only documents — parse " +
          "returning/by_pk responses with parseMutationFields")
        case None => Right(fields.map(_.m))
      }
    }

  /** The FULL mutation grammar → [[Mutations.Field]]s: every verb
    * [[parseMutations]] serves plus Hasura's response shapes —
    * `returning { cols }` next to `affected_rows` on the plain verbs
    * (the rows as written; delete returns the removed rows' prior
    * values), `update_<t>_by_pk(pk_columns: {<pk>: v}, _set/_inc)` and
    * `delete_<t>_by_pk(<pk>: v)` whose selection is the row's columns
    * directly (one nullable object), and `insert_<t>_one` selecting
    * either shape. Mid-document visibility is Hasura's: each returning
    * materializes at its step ([[Mutations.applyFields]]). Never
    * throws. */
  def parseMutationFields(doc: String, variables: String = "{}",
      schema: Schema = fixtureSchema,
      operationName: Option[String] = None)
      : Either[String, Seq[Mutations.Field]] = guarded {
    // the mirror of parse()'s multi-operation handling: a GraphiQL
    // tab holding queries AND mutations selects the mutation by
    // operationName; choosing a read operation here is diagnosed as
    // such, the way parse() diagnoses a chosen mutation
    val (ms, parsedFields) = document(doc, Some(variables), operationName,
        Set("mutation")) { (p, _) =>
      val out = Seq.newBuilder[Mutations.Field]
      // spec §5.3.2 on mutation roots: response keys (alias or verb
      // name) must be unique — identical repeats collapse and execute
      // ONCE (merged fields are one response entry), distinct fields
      // under one key refuse; Hasura requires aliases to repeat a verb
      val seen = scala.collection.mutable.LinkedHashMap
        .empty[String, Mutations.Field]
      var parsedFields = 0
      while (!p.isPunct('}')) {
        parsedFields += 1
        // ROOT-FIELD aliases (r18): `a: update_t(...)` — spec aliases
        // serve on every operation type; the alias is the response key
        val ffirst = p.name("mutation field")
        val (falias, fname) =
          if (p.isPunct(':')) {
            p.expect(':'); (Some(ffirst), p.name("mutation field"))
          } else (None, ffirst)
        val args = parseArgs(p)
        // @include/@skip gate WRITES too (a client toggling an
        // optional update step) — the excluded field still parses
        // and compiles (malformed mutations stay loud), it just
        // never executes
        val (keep, dirs) = conditionalKeep(parseDirectives(p),
          falias.getOrElse(fname))
        dirs.keySet.foreach(d => bad(s"$fname: unknown directive @$d"))
        val (m, byPk) = compileMutation(fname, args, schema)
        val isOne = fname.startsWith("insert_") && fname.endsWith("_one")
        p.expect('{')
        var sawAffected = false
        var returning: Option[Seq[String]] = None
        val retAs = scala.collection.mutable.Map.empty[String, String]
        val retNested = Seq.newBuilder[QueryBuilder.Nested]
        var single = byPk
        // fragments spread in mutation response selections with
        // Hasura's type names: by_pk / insert_one row shapes are the
        // ROW type `<table>` (and `returning` columns likewise); the
        // affected_rows/returning wrapper is
        // `<table>_mutation_response` — the shared-fragment reuse
        // codegen clients emit across queries AND mutations
        val respType = s"${m.table}_mutation_response"
        // row columns with fragment spreads on the row type — by_pk,
        // insert_one, and `returning { ... }` all share this shape;
        // field aliases apply (spec aliases serve on EVERY operation
        // type — the response key is the alias, retAs maps it back)
        def rowSel(first: String,
            into: scala.collection.mutable.Builder[String, Seq[String]])
            : Unit = {
          val (a, c) =
            if (p.isPunct(':')) { p.expect(':'); (Some(first), p.name("column")) }
            else (None, first)
          val fargs = parseArgs(p)
          val (keepF, fdirs) = conditionalKeep(parseDirectives(p),
            a.getOrElse(c))
          if (p.isPunct('{')) {
            // RELATIONSHIP selections on the returned rows (r17):
            // Hasura serves them on mutation responses; here the
            // engine returns the full rows and renderReturning
            // attaches each relationship through QueryBuilder.runOn
            // (the _stream deliver posture)
            val (rel, single2) = schema.rels.get((m.table, c))
              .map((_, false))
              .orElse(schema.objRels.get((m.table, c)).map((_, true)))
              .getOrElse(bad(
                s"$c: no tracked relationship on '${m.table}'"))
            val n = compileRelBody(p, schema, m.table, fargs, fdirs,
              a, c, rel, single = single2)
            if (keepF) retNested += n
          } else {
            if (fargs.nonEmpty)
              bad(s"$c: returning scalar fields take no arguments")
            fdirs.keySet.foreach(d => bad(s"$c: unknown directive @$d"))
            if (keepF) {
              into += a.getOrElse(c)
              a.filter(_ != c).foreach(x => retAs += x -> c)
            }
          }
        }
        def rowCols(into: scala.collection.mutable.Builder[String, Seq[String]],
            at: String): Unit =
          while (!p.isPunct('}')) {
            if (p.isSpread) resolveSpread(p, m.table, at)
            else rowSel(p.name(s"$at column"), into)
          }
        if (byPk) {
          // the by_pk response IS the row (no affected_rows field in
          // Hasura's by_pk types): scalar column selections only
          val cols = Seq.newBuilder[String]
          rowCols(cols, fname)
          val cs = cols.result()
          if (cs.isEmpty && retNested.result().isEmpty)
            bad(s"$fname: empty selection set")
          returning = Some(cs)
        } else {
          while (!p.isPunct('}')) {
            if (p.isSpread) {
              // an insert_one selection may still commit to EITHER
              // shape; the fragment's own type condition decides —
              // a row-type fragment makes it the single-row response
              val conds =
                if (isOne && !sawAffected && returning.isEmpty)
                  Set(respType, m.table)
                else Set(respType)
              // an EXCLUDED row-shaped spread must not commit the
              // single-row response shape (its body never spliced —
              // committing would mis-parse whatever follows as row
              // columns)
              val (spreadCond, spreadKept) =
                resolveSpreadIn(p, conds, fname)
              if (spreadKept && spreadCond == m.table) {
                val cols = Seq.newBuilder[String]
                rowCols(cols, fname)
                val cs = cols.result()
                if (cs.isEmpty && retNested.result().isEmpty)
                  bad(s"$fname: empty selection set")
                returning = Some(cs); single = true
              }
            } else
            p.name("selection") match {
              case "affected_rows" => sawAffected = true
              case "returning" =>
                if (returning.isDefined) bad(s"$fname: duplicate returning")
                p.expect('{')
                val cols = Seq.newBuilder[String]
                rowCols(cols, s"$fname.returning")
                p.expect('}')
                val cs = cols.result()
                if (cs.isEmpty && retNested.result().isEmpty)
                  bad(s"$fname.returning: empty selection set")
                returning = Some(cs)
              case other if isOne && !sawAffected && returning.isEmpty =>
                // Hasura's faithful insert_<t>_one response: the
                // inserted row's columns directly (the first name may
                // itself be an alias — rowSel sorts it out)
                val cols = Seq.newBuilder[String]
                rowSel(other, cols)
                rowCols(cols, fname)
                returning = Some(cols.result()); single = true
              case other => bad(s"$fname: unknown selection '$other' " +
                "(affected_rows / returning { cols })")
            }
          }
          if (!sawAffected && returning.isEmpty)
            bad(s"$fname: empty selection set")
        }
        p.expect('}')
        if (keep) {
          val f = Mutations.Field(m, returning, single,
            retAs.toMap, retNested = retNested.result().distinct,
            as = falias)
          val key = falias.getOrElse(fname)
          seen.get(key) match {
            case None => seen += key -> f; out += f
            case Some(prev) if prev == f => () // identical: collapse
            case Some(_) =>
              bad(s"duplicate mutation response key '$key' — alias " +
                "the colliding fields")
          }
        }
      }
      (out.result(), parsedFields)
    }
    // a document with no fields AT ALL is malformed; one whose every
    // field was conditionally excluded is a valid NO-OP (the dry-run
    // toggle: GraphQL's fully-skipped selection answers empty data,
    // never an error)
    if (parsedFields == 0) bad("mutation document has no mutation fields")
    ms
  }

  // ---- mutation printer ----------------------------------------------

  /** Render a mutation list back to document text such that
    * `parseMutations(renderMutations(ms)) == Right(ms)` — the same
    * parse∘render identity the read path carries, and the same
    * hardening lever: a property sweep over generated mutations walks
    * far more of the grammar than canned documents. Loud on
    * unrenderable shapes (`upsert = true` has no GraphQL spelling —
    * on_conflict update_columns is the query language's conflict
    * policy). Object values follow the GraphQL literal grammar; null
    * renders as `null` (legal in objects, unlike `_eq` comparisons). */
  def renderMutations(ms: Seq[Mutations.Mutation]): String = {
    // a repeated verb needs an alias to re-parse (the duplicate
    // response-key rule, r18) — and parseMutations DROPS the Field
    // wrapper, so a synthetic alias on colliding spellings is free,
    // exactly what a human author would write
    def verbOf(m: Mutations.Mutation): String = m match {
      case _: Mutations.Insert | _: Mutations.InsertTree =>
        s"insert_${m.table}"
      case u: Mutations.UpdateMany => s"update_${u.table}_many"
      case _: Mutations.Update => s"update_${m.table}"
      case _: Mutations.Delete => s"delete_${m.table}"
    }
    val keys = scala.collection.mutable.Set.empty[String]
    renderMutationFields(ms.zipWithIndex.map { case (m, i) =>
      Mutations.Field(m,
        as = if (keys.add(verbOf(m))) None else Some(s"m$i"))
    })
  }

  /** [[renderMutations]] over the FULL grammar:
    * `parseMutationFields(renderMutationFields(fs)) == Right(fs)` —
    * by_pk verbs render to their pk_columns / key-argument spellings
    * (requiring an `Eq(pk, literal)` where — any other by_pk where has
    * no spelling and rejects loudly), `returning` renders next to
    * `affected_rows`, and single-object inserts render as
    * `insert_<t>_one` with the row-shaped selection. Tables whose
    * names would COLLIDE with a verb suffix (`_one`, `_by_pk`) reject
    * instead of parsing back as a different verb. */
  def renderMutationFields(fs: Seq[Mutations.Field],
      schema: Schema = fixtureSchema): String = {
    require(fs.nonEmpty, "render: empty mutation document")
    // every bare identifier in the rendered text must BE a GraphQL
    // name, or the output parses differently (an 'a b' column reads
    // back as two enum values) — loud here, never drift
    def gqlName(s: String, what: String): String = {
      if (!s.matches("[_A-Za-z][_0-9A-Za-z]*"))
        throw new IllegalArgumentException(
          s"render: $what '$s' is not a GraphQL name — the rendered " +
            "text would not parse back to this mutation")
      s
    }
    def mutLit(v: Any): String = v match {
      case null => "null"
      case other => renderLit(other)
    }
    def obj(entries: Seq[(String, Any)]): String =
      entries.map { case (k, v) =>
        s"${gqlName(k, "object field")}: ${mutLit(v)}" }
        .mkString("{", ", ", "}")
    // one (pk, literal) per key component: a bare Eq for scalar keys,
    // an And of Eqs for composite ones (exactly the shapes the by_pk
    // parse produces — anything else has no by_pk spelling). A
    // TRACKED table's pairs must name exactly its key — a secured
    // where (role filter ANDed in by Permissions.secureFields) must
    // REFUSE to render rather than print the role-filter column
    // inside pk_columns (a document Hasura rejects)
    def pkPairs(where: QueryBuilder.BoolExp, table: String,
        at: String): Seq[(String, String)] = {
      val pairs = where match {
        case QueryBuilder.Eq(f, v) if v != null =>
          Seq((gqlName(f, "key column"), mutLit(v)))
        case QueryBuilder.And(es @ _*) if es.nonEmpty && es.forall {
            case QueryBuilder.Eq(_, v) => v != null
            case _ => false
          } =>
          es.map { case QueryBuilder.Eq(f, v) =>
            (gqlName(f, "key column"), mutLit(v)) }
        case other => throw new IllegalArgumentException(
          s"render: $at requires an Eq(pk, literal) where — " +
            s"$other has no by_pk spelling")
      }
      schema.keys.get(table).foreach { ks =>
        val names = pairs.map(_._1)
        if (names.sorted != ks.sorted)
          throw new IllegalArgumentException(
            s"render: $at names (${names.mkString(", ")}) but " +
              s"'$table' is keyed on (${ks.mkString(", ")}) — a " +
              "secured or non-key where has no by_pk spelling")
      }
      pairs
    }
    def noSuffix(table: String, what: String): String = {
      if (table.endsWith("_by_pk") || table.endsWith("_one") ||
          table.endsWith("_many"))
        throw new IllegalArgumentException(
          s"render: table '$table' collides with the $what verb " +
            "suffix — the rendered field name would parse as a " +
            "different mutation")
      gqlName(table, "table")
    }
    def retCol(f: Mutations.Field)(c: String): String =
      f.returningAs.get(c) match {
        case Some(src) =>
          s"${gqlName(c, "column")}: ${gqlName(src, "column")}"
        case None => gqlName(c, "column")
      }
    def retCols(f: Mutations.Field): Seq[String] =
      f.returning.getOrElse(throw new IllegalArgumentException(
        "render: a by_pk/single field needs returning columns " +
          "(its response IS the row)")).map(retCol(f))
    def selection(f: Mutations.Field): String = {
      // relationship selections render through the read printer's
      // renderNested (the identity contract covers retNested too —
      // dropping them here would silently drift, the one printer sin)
      def rels: String =
        if (f.retNested.isEmpty) ""
        else {
          val sb2 = new StringBuilder("\n")
          f.retNested.foreach(n =>
            renderNested(sb2, schema, f.m.table, n, 6))
          sb2.dropRight(1).toString
        }
      f.returning match {
        case Some(cols) if f.single =>
          " { " + (cols.map(retCol(f)) ++ Seq(rels).filter(_.nonEmpty))
            .mkString(" ") + " }\n"
        case Some(cols) =>
          " { affected_rows returning { " +
            (cols.map(retCol(f)) ++ Seq(rels).filter(_.nonEmpty))
              .mkString(" ") + " } }\n"
        case None => " { affected_rows }\n"
      }
    }
    val sb = new StringBuilder("mutation {\n")
    fs.foreach { field =>
      // root-field alias (r18): the response key precedes the verb;
      // every arm below writes "  <verb>..." so the alias splices
      // after the indent it shares
      sb ++= "  "
      field.as.foreach(a => sb ++= gqlName(a, "alias") ++= ": ")
      field.m match {
        case Mutations.Insert(table, rows, upsert, updateCols0, cw) =>
          if (upsert)
            throw new IllegalArgumentException(
              "render: upsert=true has no GraphQL spelling — use " +
                "updateColumns (on_conflict) for a renderable policy")
          // the conditional-upsert where renders inside on_conflict
          val updateCols = updateCols0.map(cols => (cols,
            cw.map(w => s", where: ${renderBoolExp(w)}").getOrElse("")))
          val oneShaped = field.single
          if (oneShaped && rows.length != 1)
            throw new IllegalArgumentException(
              "render: a single-shaped insert carries exactly one row")
          if (oneShaped) {
            sb ++= s"insert_${noSuffix(table, "insert_<t>_one")}_one" +
              s"(object: ${obj(rows.head)}"
            updateCols.foreach { case (cols, wtext) => sb ++=
              s", on_conflict: {update_columns: [${cols.map(
                gqlName(_, "update_column")).mkString(", ")}]$wtext}" }
            sb ++= ")"
            sb ++= retCols(field).mkString(" { ", " ", " }\n")
          } else {
            if (table.endsWith("_one"))
              throw new IllegalArgumentException(
                s"render: table '$table' collides with the " +
                  "insert_<t>_one spelling — the rendered field name " +
                  "would parse as a single-object insert on a " +
                  "different table")
            sb ++= s"insert_${gqlName(table, "table")}(objects: ["
            sb ++= rows.map(obj).mkString(", ")
            sb ++= "]"
            updateCols.foreach { case (cols, wtext) => sb ++=
              s", on_conflict: {update_columns: [${cols.map(
                gqlName(_, "update_column")).mkString(", ")}]$wtext}" }
            sb ++= ")"
            sb ++= selection(field)
          }
        case Mutations.Update(table, where, set, inc, jsonb) =>
          // jsonb operands were canonicalized to JSON text at parse —
          // rendering them back to GraphQL literals would not
          // round-trip byte for byte (the InsertTree rule)
          if (jsonb.nonEmpty) throw new IllegalArgumentException(
            "render: jsonb update operators do not round-trip — " +
              "keep the original document text")
          if (field.single) {
            val pks = pkPairs(where, table, "update_<t>_by_pk")
              .map { case (pk, v) => s"$pk: $v" }.mkString(", ")
            sb ++= s"update_${noSuffix(table, "by_pk")}_by_pk" +
              s"(pk_columns: {$pks}"
            if (set.nonEmpty) sb ++= s", _set: ${obj(set)}"
            if (inc.nonEmpty) sb ++= s", _inc: ${obj(inc)}"
            sb ++= ")"
            sb ++= retCols(field).mkString(" { ", " ", " }\n")
          } else {
            sb ++= s"update_${noSuffix(table, "by_pk")}" +
              s"(where: ${renderBoolExp(where)}"
            if (set.nonEmpty) sb ++= s", _set: ${obj(set)}"
            if (inc.nonEmpty) sb ++= s", _inc: ${obj(inc)}"
            sb ++= ")"
            sb ++= selection(field)
          }
        case Mutations.UpdateMany(table, steps) =>
          if (field.single)
            throw new IllegalArgumentException(
              "render: update_<t>_many has no by_pk spelling")
          sb ++= s"update_${noSuffix(table, "_many")}_many(updates: ["
          sb ++= steps.map { u =>
            if (u.jsonb.nonEmpty) throw new IllegalArgumentException(
              "render: jsonb update operators do not round-trip — " +
                "keep the original document text")
            val parts = Seq(s"where: ${renderBoolExp(u.where)}") ++
              (if (u.set.nonEmpty) Seq(s"_set: ${obj(u.set)}") else Nil) ++
              (if (u.inc.nonEmpty) Seq(s"_inc: ${obj(u.inc)}") else Nil)
            parts.mkString("{", ", ", "}")
          }.mkString(", ")
          sb ++= "])"
          sb ++= selection(field)
        case Mutations.Delete(table, where) =>
          if (field.single) {
            val pks = pkPairs(where, table, "delete_<t>_by_pk")
              .map { case (pk, v) => s"$pk: $v" }.mkString(", ")
            sb ++= s"delete_${noSuffix(table, "by_pk")}_by_pk($pks)"
            sb ++= retCols(field).mkString(" { ", " ", " }\n")
          } else {
            sb ++= s"delete_${noSuffix(table, "by_pk")}" +
              s"(where: ${renderBoolExp(where)})"
            sb ++= selection(field)
          }
        case _: Mutations.InsertTree =>
          // parse stitches children flat (FK already applied), losing
          // which parent OBJECT carried which nested rows — rendering
          // a guess would parse back to a different tree
          throw new IllegalArgumentException(
            "render: a nested insert does not round-trip — render " +
              "the parent and child inserts as separate fields")
      }
    }
    (sb ++= "}").toString
  }

  // ---- printer (render a Request back to query text) -----------------

  /** Render a [[Request]] to GraphQL query text such that
    * `parse(render(r), schema) == Right(r)` — the same parse∘render
    * identity [[RequestCodec]] carries for the wire JSON, and the
    * hardening lever for the parser: a property test over generated
    * requests walks far more of the grammar than example queries can.
    *
    * Loud on unrenderable shapes (IllegalArgumentException): a
    * relationship the schema doesn't track (the printer inverts the
    * metadata resolution parse does), a non-default rounding the query
    * language has no spelling for, or a literal type outside the
    * GraphQL value grammar. The identity holds for canonically-typed
    * requests (Long/Double/String/Boolean literals — the same caveat
    * as the wire codec: DSL Int literals parse back as Long). */
  def render(r: Request, schema: Schema = fixtureSchema): String = {
    val sb = new StringBuilder
    sb ++= "{\n  " ++= r.table
    sb ++= renderArgs(r.where, r.orderBy, r.limit, r.offset,
      r.distinctOn, Some((schema, r.table)), r.orderAggs)
    sb ++= " {\n"
    r.fields.foreach { f =>
      sb ++= "    "
      r.fieldAs.get(f).foreach(_ => sb ++= f ++= ": ")
      sb ++= r.fieldAs.getOrElse(f, f) ++= "\n"
    }
    r.nested.foreach(n => renderNested(sb, schema, r.table, n, indent = 4))
    r.aggRels.foreach(ar => renderAggRel(sb, schema, r.table, ar))
    sb ++= "  }\n}"
    sb.toString
  }

  private def relNameOf(schema: Schema, parentTable: String,
      childTable: String, childKey: String, parentKey: String,
      single: Boolean = false): String =
    (if (single) schema.objRels else schema.rels).collectFirst {
      case ((pt, name), rel)
          if pt == parentTable && rel.childTable == childTable &&
            rel.childKey == childKey && rel.parentKey == parentKey => name
    }.getOrElse(throw new IllegalArgumentException(
      s"render: no tracked ${if (single) "object " else ""}" +
        s"relationship on '$parentTable' joining " +
        s"'$childTable' on $childKey = $parentKey"))

  private def renderNested(sb: StringBuilder, schema: Schema,
      parentTable: String, n: Nested, indent: Int): Unit = {
    val pad = " " * indent
    val relName = relNameOf(schema, parentTable, n.table, n.childKey,
      n.parentKey, n.single)
    sb ++= pad
    if (n.as != relName) sb ++= n.as ++= ": "
    sb ++= relName
    sb ++= renderArgs(n.where, n.orderBy, n.limit, n.offset,
      n.distinctOn, Some((schema, n.table)))
    // an object relationship's left default round-trips bare; the
    // non-default inner spelling renders explicitly either way
    if (n.joinType != (if (n.single) "left" else "inner"))
      sb ++= s""" @join(type: "${n.joinType}")"""
    sb ++= " {\n"
    n.fields.foreach { f =>
      sb ++= pad ++= "  "
      if (f.as != f.field) sb ++= f.as ++= ": "
      sb ++= f.field
      f.format.foreach { case (round, printf) =>
        sb ++= s""" @fmt(round: $round, printf: ${quote(printf)})"""
      }
      f.cast.foreach(t => sb ++= s" @cast(to: ${quote(t)})")
      sb ++= "\n"
    }
    n.subs.foreach(m => renderNested(sb, schema, n.table, m, indent + 2))
    sb ++= pad ++= "}\n"
  }

  private def renderAggRel(sb: StringBuilder, schema: Schema,
      parentTable: String, ar: AggRel): Unit = {
    val relName = relNameOf(schema, parentTable, ar.table, ar.childKey,
      ar.parentKey)
    sb ++= "    "
    ar.prefix.foreach(p => sb ++= p ++= ": ")
    sb ++= relName ++= "_aggregate"
    sb ++= renderArgs(ar.where, ar.orderBy, ar.limit, ar.offset,
      ar.distinctOn, Some((schema, ar.table)))
    if (ar.joinType != "left") sb ++= s""" @join(type: "${ar.joinType}")"""
    sb ++= " {\n"
    if (ar.aggs.nonEmpty) {
      sb ++= "      aggregate {\n"
      ar.aggs.foreach { a =>
        sb ++= "        "
        sb ++= renderAggField(a, ar.childKey)
        sb ++= "\n"
      }
      sb ++= "      }\n"
    }
    if (ar.nodes.nonEmpty)
      sb ++= ar.nodes.mkString("      nodes { ", " ", " }\n")
    sb ++= "    }\n"
  }

  /** One aggregate selection. Parse always counts the child key, and
    * the query language has no spelling for non-default rounding — both
    * reject loudly rather than render text that parses to a different
    * request. */
  private def renderAggField(a: AggField, childKey: String): String = {
    def unrenderable(what: String): Nothing =
      throw new IllegalArgumentException(s"render: $what has no GraphQL " +
        "spelling (the parse would not round-trip)")
    def fieldFn(fn: String, dfltSpellings: Seq[String], f: String,
        as: String): String = {
      // default output names follow the SPELLING used (`stddev_samp_f`
      // vs `stddev_f`); pick the spelling the name implies, else alias
      // with the canonical one
      dfltSpellings.find(sp => as == s"${sp}_$f") match {
        case Some(sp) => s"$sp { $f }"
        case None => s"$as: $fn { $f }"
      }
    }
    a match {
      case CountOf(f, as) =>
        if (f != childKey)
          unrenderable(s"count of non-key field '$f'")
        if (as == "count") "count" else s"$as: count"
      case SumOf(f, as, roundTo) =>
        if (roundTo != 2) unrenderable(s"sum round=$roundTo")
        fieldFn("sum", Seq("sum"), f, as)
      case MinOf(f, as) => fieldFn("min", Seq("min"), f, as)
      case MaxOf(f, as) => fieldFn("max", Seq("max"), f, as)
      case AvgOf(f, as) => fieldFn("avg", Seq("avg"), f, as)
      case StddevOf(f, as, pop, roundTo) =>
        if (roundTo != 4) unrenderable(s"stddev round=$roundTo")
        if (pop) fieldFn("stddev_pop", Seq("stddev_pop"), f, as)
        else fieldFn("stddev_samp", Seq("stddev_samp", "stddev"), f, as)
      case VarianceOf(f, as, pop, roundTo) =>
        if (roundTo != 4) unrenderable(s"variance round=$roundTo")
        if (pop) fieldFn("var_pop", Seq("var_pop"), f, as)
        else fieldFn("var_samp", Seq("var_samp", "variance"), f, as)
      case CountAll(_) | CountDistinctOf(_, _) =>
        // relationship count parses to CountOf(childKey); these forms
        // exist only at the root (parseRootAggregate)
        unrenderable("root-aggregate count form inside a relationship")
    }
  }

  private def renderArgs(where: Option[BoolExp], orderBy: Seq[Order],
      limit: Option[Int], offset: Int, distinctOn: Seq[String],
      ctx: Option[(Schema, String)] = None,
      orderAggs: Seq[QueryBuilder.OrderAgg] = Nil): String = {
    val args = Seq.newBuilder[String]
    where.foreach(w => args += s"where: ${renderBoolExp(w, ctx)}")
    def orderEntry(o: Order): String = {
      val d = (if (o.desc) "desc" else "asc") + (o.nullsFirst match {
        case None => ""
        case Some(true) => "_nulls_first"
        case Some(false) => "_nulls_last"
      })
      orderAggs.find(_.as == o.field) match {
        case None => s"{${o.field}: $d}"
        case Some(_) if o.nullsFirst.isDefined =>
          throw new IllegalArgumentException(
            "render: explicit nulls placement on an ordering " +
              "aggregate has no parseable spelling")
        case Some(oa) =>
          if (oa.where.isDefined)
            throw new IllegalArgumentException(
              "render: a FILTERED ordering aggregate (a role-secured " +
                "request) has no GraphQL spelling — render the " +
                "original request, not the secured rewrite")
          val (schema, t) = ctx.getOrElse(
            throw new IllegalArgumentException("render: an ordering " +
              "aggregate needs the tracked schema"))
          // an OBJECT-relationship ordering (max of the one-row group
          // = the related column) spells as {rel: {col: dir}} — try
          // the array-rel aggregate spelling first, else the obj form
          val arrayName =
            try Some(relNameOf(schema, t, oa.table, oa.childKey,
              oa.parentKey))
            catch { case _: IllegalArgumentException => None }
          arrayName match {
            case None =>
              val objName = relNameOf(schema, t, oa.table,
                oa.childKey, oa.parentKey, single = true)
              oa.agg match {
                case QueryBuilder.MaxOf(f, _) => s"{$objName: {$f: $d}}"
                case other => throw new IllegalArgumentException(
                  "render: an object-relationship ordering carries " +
                    s"MaxOf only, got $other")
              }
            case Some(rn) =>
          oa.agg match {
            case QueryBuilder.CountOf(f, _) if f == oa.childKey =>
              s"{${rn}_aggregate: {count: $d}}"
            case QueryBuilder.SumOf(f, _, 2) =>
              s"{${rn}_aggregate: {sum: {$f: $d}}}"
            case QueryBuilder.MinOf(f, _) =>
              s"{${rn}_aggregate: {min: {$f: $d}}}"
            case QueryBuilder.MaxOf(f, _) =>
              s"{${rn}_aggregate: {max: {$f: $d}}}"
            case QueryBuilder.AvgOf(f, _) =>
              s"{${rn}_aggregate: {avg: {$f: $d}}}"
            case other => throw new IllegalArgumentException(
              s"render: ordering aggregate has no spelling: $other")
          }
          }
      }
    }
    if (orderBy.nonEmpty)
      args += "order_by: [" + orderBy.map(orderEntry).mkString(", ") +
        "]"
    if (distinctOn.nonEmpty)
      args += "distinct_on: [" + distinctOn.mkString(", ") + "]"
    limit.foreach(l => args += s"limit: $l")
    if (offset != 0) args += s"offset: $offset"
    val rendered = args.result()
    if (rendered.isEmpty) "" else rendered.mkString("(", ", ", ")")
  }

  /** The where-tree in Hasura's object spelling — combinators render
    * their canonical list form (`_and: [...]`), which the parser maps
    * back to the same [[BoolExp]] tree. */
  private def renderBoolExp(e: BoolExp,
      ctx: Option[(Schema, String)] = None): String = e match {
    case And(es @ _*) =>
      "{_and: [" + es.map(renderBoolExp(_, ctx)).mkString(", ") + "]}"
    case Or(es @ _*) =>
      "{_or: [" + es.map(renderBoolExp(_, ctx)).mkString(", ") + "]}"
    case Not(x) => s"{_not: ${renderBoolExp(x, ctx)}}"
    case QueryBuilder.RelPred(table, ck, pk, pred) =>
      val (schema, t) = ctx.getOrElse(throw new IllegalArgumentException(
        "render: a relationship predicate needs the tracked schema " +
          "(mutation where-trees are column-only)"))
      // a predicate through an ARRAY or OBJECT relationship spells
      // identically (both are the tracked name) — resolve either
      val name =
        try relNameOf(schema, t, table, ck, pk)
        catch { case _: IllegalArgumentException =>
          relNameOf(schema, t, table, ck, pk, single = true) }
      s"{$name: ${renderBoolExp(pred, Some((schema, table)))}}"
    case QueryBuilder.FlagRef(_) => throw new IllegalArgumentException(
      "render: a decorrelated flag is internal to run() — not a " +
        "request shape")
    case Eq(f, v) => s"{$f: {_eq: ${renderLit(v)}}}"
    case Neq(f, v) => s"{$f: {_neq: ${renderLit(v)}}}"
    case Gt(f, v) => s"{$f: {_gt: ${renderLit(v)}}}"
    case Gte(f, v) => s"{$f: {_gte: ${renderLit(v)}}}"
    case Lt(f, v) => s"{$f: {_lt: ${renderLit(v)}}}"
    case Lte(f, v) => s"{$f: {_lte: ${renderLit(v)}}}"
    case In(f, vs) =>
      s"{$f: {_in: [${vs.map(renderLit).mkString(", ")}]}}"
    case Nin(f, vs) =>
      s"{$f: {_nin: [${vs.map(renderLit).mkString(", ")}]}}"
    case Like(f, p) => s"{$f: {_like: ${quote(p)}}}"
    case Nlike(f, p) => s"{$f: {_nlike: ${quote(p)}}}"
    case Ilike(f, p) => s"{$f: {_ilike: ${quote(p)}}}"
    case Regex(f, p, ci) =>
      s"{$f: {${if (ci) "_iregex" else "_regex"}: ${quote(p)}}}"
    case Nregex(f, p, ci) =>
      s"{$f: {${if (ci) "_niregex" else "_nregex"}: ${quote(p)}}}"
    case Similar(f, p) => s"{$f: {_similar: ${quote(p)}}}"
    case Nsimilar(f, p) => s"{$f: {_nsimilar: ${quote(p)}}}"
    case IsNull(f, isNull) => s"{$f: {_is_null: $isNull}}"
    case HasKey(f, k) => s"{$f: {_has_key: ${quote(k)}}}"
    case HasKeysAny(f, ks) =>
      s"{$f: {_has_keys_any: [${ks.map(quote).mkString(", ")}]}}"
    case HasKeysAll(f, ks) =>
      s"{$f: {_has_keys_all: [${ks.map(quote).mkString(", ")}]}}"
    case JsonContains(f, ps) =>
      // keys are GraphQL-name-shaped by construction (QueryBuilder
      // rejects others), so they render bare
      s"{$f: {_contains: ${ps.map { case (k, v) =>
        s"$k: ${renderLit(v)}" }.mkString("{", ", ", "}")}}}"
    case JsonContainedIn(f, ps) =>
      s"{$f: {_contained_in: ${ps.map { case (k, v) =>
        s"$k: ${renderLit(v)}" }.mkString("{", ", ", "}")}}}"
    case QueryBuilder.Cast(f, to, inner) =>
      // unwrap the inner rendering's {f: {...}} back to the bare
      // comparison object under the target type
      val rendered = renderBoolExp(inner)
      val open = s"{$f: "
      require(rendered.startsWith(open) && rendered.endsWith("}"),
        s"render: _cast on '$f' composes inner operators — compose " +
          "with _and outside the _cast for a round-tripping spelling")
      s"{$f: {_cast: {$to: ${rendered.drop(open.length).dropRight(1)}}}}"
    case QueryBuilder.KeySet(f, _) => throw new IllegalArgumentException(
      s"render: KeySet($f) is internal to the mutation fold — it has " +
        "no GraphQL spelling")
  }

  private def renderLit(v: Any): String = v match {
    // no spelling round-trips: `_eq: null` PARSES as IS NULL (Hasura's
    // null-comparison semantics), while the DSL's Eq(f, null) is a
    // never-true SQL comparison — rendering it would silently change
    // the request. Null-answering requests must use IsNull.
    case null => throw new IllegalArgumentException(
      "render: null literal has no round-tripping GraphQL spelling " +
        "(_eq: null parses as IS NULL) — use IsNull(field) instead")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double =>
      // Double.toString always carries '.' or 'E', so the lexer reads
      // it back as a FloatLit of the identical double
      if (d.isNaN || d.isInfinite)
        throw new IllegalArgumentException(
          s"render: $d has no GraphQL literal")
      d.toString
    case other => throw new IllegalArgumentException(
      s"render: unsupported literal type ${other.getClass.getName}")
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case '\r' => sb ++= "\\r"
      case '\b' => sb ++= "\\b"
      case '\f' => sb ++= "\\f"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  // ---- wire-served correctness entry ---------------------------------

  /** q98's request as GRAPHQL TEXT — the reference endpoint's own
    * query language (README.md:92-155): each customer's top-3 open
    * orders by price, child args and all. */
  val q100Query: String =
    """query TopOpenOrders {
      |  customer(where: {c_custkey: {_lte: 50}},
      |           order_by: {c_custkey: asc}) {
      |    c_custkey
      |    orders(where: {o_orderstatus: {_eq: "O"}},
      |           order_by: [{o_totalprice: desc}, {o_orderkey: asc}],
      |           limit: 3) {
      |      k: o_orderkey
      |      p: o_totalprice @fmt(round: 2, printf: "%.2f")
      |    }
      |  }
      |}""".stripMargin

  /** q100 — q98 arriving as GraphQL text. Shares q98's oracle: the
    * parsed query must produce hash-identical rows, so neither the
    * tokenizer nor the relationship resolution can drift from the DSL
    * semantics unnoticed. */
  def q100QbGraphql(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q100Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q100 GraphQL query failed to parse: $m")
    }

  /** q121's document — the root-aggregate read surface: all three
    * count forms + the field family over a variable-filtered table. */
  val q121Query: String =
    """query OrdersRollup($st: String!) {
      |  orders_aggregate(where: {o_orderstatus: {_eq: $st}}) {
      |    aggregate {
      |      count
      |      n_cust: count(columns: o_custkey, distinct: true)
      |      sum { o_totalprice }
      |      min { o_totalprice }
      |      max { o_totalprice }
      |    }
      |  }
      |}""".stripMargin

  /** q121 — Hasura's root `<table>_aggregate` query under the oracle
    * gate: one filtered scan + one two-phase global aggregate (the
    * partials run map-side; the exchange carries a row per partition).
    * count / count(columns, distinct) / sum / min / max replayed
    * natively in DuckDB. */
  def q121RootAggregate(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseRootAggregate(q121Query, """{"st": "O"}""") match {
      case Right(r) => QueryBuilder.runAggregate(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q121 aggregate failed to parse: $m")
    }

  /** q132's document — the aggregate's NODES arm: Hasura returns the
    * filtered rows themselves next to their aggregates in one
    * response; here the nodes render as one deterministic JSON array
    * column (sorted by the leading field), the q40 wire-shape
    * contract applied to the root aggregate. */
  val q132Query: String =
    """{
      |  orders_aggregate(where: {_and: [
      |      {o_orderstatus: {_eq: "P"}},
      |      {o_totalprice: {_gt: 485000.0}}]}) {
      |    aggregate {
      |      count
      |      sum { o_totalprice }
      |    }
      |    nodes { o_orderkey o_custkey }
      |  }
      |}""".stripMargin

  /** q144's document — the SLICED root aggregate: Hasura's
    * `<t>_aggregate(order_by, limit)` aggregates (and lists) only the
    * slice, so "stats of the top-50 priciest pending orders" is one
    * request. */
  val q144Query: String =
    """{
      |  orders_aggregate(where: {o_orderstatus: {_eq: "P"}},
      |                   order_by: [{o_totalprice: desc},
      |                              {o_orderkey: asc}],
      |                   limit: 50) {
      |    aggregate {
      |      count
      |      sum { o_totalprice }
      |      min { o_totalprice }
      |    }
      |  }
      |}""".stripMargin

  def q144SlicedAggregate(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseRootAggregate(q144Query) match {
      case Right(r) => QueryBuilder.runAggregate(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q144 aggregate failed to parse: $m")
    }

  def q132AggregateNodes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseRootAggregate(q132Query) match {
      case Right(r) => QueryBuilder.runAggregate(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q132 aggregate failed to parse: $m")
    }

  /** q133's document — a RELATIONSHIP predicate in the where tree:
    * Hasura's `where: {orders: {...}}` EXISTS semantics (the row
    * qualifies when at least one related row matches), ANDed with a
    * plain column predicate. */
  val q133Query: String =
    """{
      |  customer(where: {_and: [
      |      {c_mktsegment: {_eq: "BUILDING"}},
      |      {orders: {_and: [{o_orderstatus: {_eq: "O"}},
      |                       {o_totalprice: {_gt: 250000.0}}]}}]},
      |    order_by: [{c_custkey: asc}]) {
      |    c_custkey c_name c_acctbal
      |  }
      |}""".stripMargin

  def q133RelPred(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q133Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q133 GraphQL query failed to parse: $m")
    }

  /** q134's document — the relationship predicate's full algebra:
    * NOT EXISTS (`_not` over a relationship — customers with no
    * orders at all) OR-combined with a NESTED relationship predicate
    * (an order containing a high-quantity lineitem: EXISTS inside
    * EXISTS, two levels of decorrelation). */
  val q134Query: String =
    """{
      |  customer(where: {_or: [
      |      {_not: {orders: {o_orderkey: {_is_null: false}}}},
      |      {orders: {items: {l_quantity: {_gte: 49.0}}}}]},
      |    order_by: [{c_custkey: asc}], limit: 400) {
      |    c_custkey c_mktsegment
      |  }
      |}""".stripMargin

  def q134RelPredAlgebra(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q134Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q134 GraphQL query failed to parse: $m")
    }

  /** q135's document — AGGREGATE ordering: Hasura's `order_by:
    * {<rel>_aggregate: ...}` (order parents by a child aggregate),
    * two aggregate entries (count desc, then sum desc) with a unique
    * column tie-break tail. */
  val q135Query: String =
    """{
      |  customer(where: {c_mktsegment: {_eq: "MACHINERY"}},
      |    order_by: [{orders_aggregate: {count: desc}},
      |               {orders_aggregate: {sum: {o_totalprice: desc}}},
      |               {c_custkey: asc}],
      |    limit: 25) {
      |    c_custkey c_name
      |  }
      |}""".stripMargin

  def q135AggOrder(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q135Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q135 GraphQL query failed to parse: $m")
    }

  /** q118's mutation document — the WRITE surface arriving as GraphQL
    * text, all three verbs in Hasura's auto-generated shapes, with an
    * operation variable bound the way clients ship them. */
  val q118Mutation: String =
    """mutation Touch($cap: bigint!) {
      |  insert_customer(objects: [{c_custkey: 99901,
      |                             c_mktsegment: "BUILDING",
      |                             c_acctbal: 1234.56}]) { affected_rows }
      |  update_customer(where: {c_custkey: {_lte: $cap}},
      |                  _set: {c_mktsegment: "MUTATED"},
      |                  _inc: {c_acctbal: 100.0}) { affected_rows }
      |  delete_customer(where: {_and: [{c_custkey: {_gt: 1490}},
      |                                 {c_custkey: {_lte: 1499}}]}) {
      |    affected_rows }
      |}""".stripMargin

  /** q118 — the mutation ROUND-TRIP under the q24 snapshot pattern:
    * seed a customer snapshot store from the parquet table, apply
    * [[q118Mutation]] through the full chain (GraphQL text → parse →
    * [[Mutations.applyToStore]]'s merge/tombstone compilation →
    * AtomicSwap rewrite), then READ BACK and aggregate per segment.
    * The oracle replays insert/update/delete as pure SQL over the same
    * parquet, so a green q118 proves the parse, the merge semantics
    * (latest-wins upserts, tombstone drops), and the store round-trip
    * in one entry. */
  /** Shared engine of q118/q120: seed a customer snapshot store from
    * the parquet table, run a canned mutation document through the
    * full chain, read back and aggregate per segment. */
  /** Fresh per-tag snapshot store seeded from the customer table —
    * the shared setup of every mutation round-trip query. */
  private def freshStore(s: org.apache.spark.sql.SparkSession,
      dir: String, tag: String): String = {
    val path = graft.Scratch.path(s, s"${tag}_store", dir)
    val base = graft.Tables.load(s, dir, "customer")
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    graft.sources.SnapshotStore.write(base, path)
    path
  }

  private def parsedFields(tag: String, doc: String,
      variables: String,
      schema: Schema = fixtureSchema): Seq[Mutations.Field] =
    parseMutationFields(doc, variables, schema) match {
      case Right(fs) => fs
      case Left(m) => throw new IllegalStateException(
        s"canned $tag mutation failed to parse: $m")
    }

  private def mutationRoundTrip(s: org.apache.spark.sql.SparkSession,
      dir: String, tag: String, doc: String,
      variables: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // seed + document application happen once per process (the
    // FixtureCache serving contract); every call probes the
    // post-mutation store through the same read-back aggregate
    val path = graft.FixtureCache.once(s, s"$tag|$dir") {
      val p = freshStore(s, dir, tag)
      Mutations.applyFieldsToStore(s, p, "customer", "c_custkey",
        parsedFields(tag, doc, variables))
      p
    }
    graft.sources.SnapshotStore.read(s, path)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy("c_mktsegment")
  }

  def q118MutationRoundTrip(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    mutationRoundTrip(s, dir, "q118", q118Mutation, """{"cap": 10}""")

  /** q120's document — the ON_CONFLICT upsert: one existing key whose
    * listed column updates (its OTHER incoming value must be IGNORED —
    * the oracle's acctbal proves it), one fresh key inserting whole. */
  val q120Mutation: String =
    """mutation Upsert {
      |  insert_customer(objects: [{c_custkey: 3,
      |                             c_mktsegment: "UPSERTED",
      |                             c_acctbal: 500.0},
      |                            {c_custkey: 99902,
      |                             c_mktsegment: "FRESH",
      |                             c_acctbal: 77.5}],
      |                  on_conflict: {constraint: customer_pkey,
      |                                update_columns: [c_mktsegment]}) {
      |    affected_rows }
      |}""".stripMargin

  /** q120 — the on_conflict round-trip under the oracle gate: key 3
    * exists, so ONLY c_mktsegment takes the incoming value while its
    * c_acctbal keeps the STORED value (the incoming 500.0 must be
    * ignored — DuckDB's replay carries the original balance, so an
    * engine that overwrote it hash-fails); key 99902 is fresh and
    * inserts whole. Proves Hasura's partial-update conflict policy
    * through the same parse → merge → store → read chain as q118. */
  def q120UpsertRoundTrip(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    mutationRoundTrip(s, dir, "q120", q120Mutation, "{}")

  /** q122's document — Hasura's `<table>_by_pk(<pk>: v)` single-object
    * read, with the key arriving as an operation variable the way
    * clients ship it. */
  val q122Query: String =
    """query ($k: bigint!) {
      |  customer_by_pk(c_custkey: $k) {
      |    c_custkey c_name c_mktsegment c_acctbal
      |  }
      |}""".stripMargin

  /** q122 — the by_pk point lookup: compiles to an equality filter on
    * the TRACKED key column (argument name validated against the
    * schema's key map), served through the same [[QueryBuilder.run]]
    * plan as every read, so the filter reaches the parquet scan — at
    * scale this is a pushed-down point lookup, not a table pass. */
  def q122ByPkRead(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q122Query, variables = """{"k": 7}""") match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q122 GraphQL query failed to parse: $m")
    }

  /** q130's document — Hasura's REGEX comparison family
    * (`_regex`/`_iregex`/`_nregex`/`_similar`, Postgres `~`/`~*`/
    * `!~`/SIMILAR TO): partial-match regexes, a case-insensitive
    * pattern against lower-case data (the `~*` semantics), a negation
    * whose three-valued logic keeps null sources out, and a SIMILAR TO
    * full-match with alternation. */
  val q130Query: String =
    """{
      |  documents(where: {_and: [
      |      {lang: {_similar: "e(n|s)"}},
      |      {lang: {_regex: "^e"}},
      |      {source: {_iregex: "^SRC[0-9]"}},
      |      {source: {_nregex: "8$"}}]},
      |    order_by: [{doc_id: asc}], limit: 300) {
      |    doc_id lang source
      |  }
      |}""".stripMargin

  /** q130 — the regex operator family end to end: GraphQL text →
    * [[QueryBuilder.Regex]]/[[QueryBuilder.Similar]] → `rlike` in the
    * scan, against DuckDB's native `regexp_matches`/`SIMILAR TO`
    * spellings — so the Java-regex/RE2 common-subset contract and the
    * SIMILAR TO translation are both oracle-pinned. */
  def q130RegexOps(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q130Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q130 GraphQL query failed to parse: $m")
    }

  /** q131's document — one document, TWO tables, interleaved: plain
    * and by_pk verbs against customer next to delete/insert against
    * orders, exactly how Hasura clients batch related writes. */
  val q131Mutation: String =
    """mutation {
      |  update_customer(where: {c_custkey: {_lte: 5}},
      |                  _set: {c_mktsegment: "XTBL"}) { affected_rows }
      |  delete_orders(where: {o_orderkey: {_lte: 100}}) { affected_rows }
      |  insert_orders(objects: [{o_orderkey: 999991,
      |                           o_orderstatus: "X",
      |                           o_totalprice: 10.0}]) { affected_rows }
      |  update_customer_by_pk(pk_columns: {c_custkey: 7},
      |                        _set: {c_acctbal: 0.0}) { c_custkey }
      |}""".stripMargin

  /** q131 — the multi-table mutation round-trip: the document routes
    * through [[Mutations.applyFieldsToStores]] (a store registry,
    * per-table atomic swaps after the whole document folds), then both
    * stores read back as one (tbl, n, n_cat, chk) row each — DuckDB
    * replays each table's mutations independently, so cross-table
    * routing errors (a write landing on the wrong store) hash-fail. */
  def q131MultiTable(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (cPath, oPath) = graft.FixtureCache.once(s, s"q131|$dir") {
      val cP = graft.Scratch.path(s, "q131c_store", dir)
      val oP = graft.Scratch.path(s, "q131o_store", dir)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), cP)
      // the orders store is a SLICE (o_orderkey <= 200000): the query
      // proves multi-table routing + per-table swaps, which does not
      // need the full fact table rewritten per run — the oracle
      // mirrors the slice, and both mutated key ranges (<=100 delete,
      // 999991 insert) stay inside/outside it consistently at every SF
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") <= 200000L)
          .select("o_orderkey", "o_orderstatus", "o_totalprice"), oP)
      Mutations.applyFieldsToStores(s, Map(
        "customer" -> ((cP, Seq("c_custkey"))),
        "orders" -> ((oP, Seq("o_orderkey")))),
        parsedFields("q131", q131Mutation, "{}"))
      (cP, oP)
    }
    val c = graft.sources.SnapshotStore.read(s, cPath)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("c_mktsegment")).as("n_cat"),
        round(sum(col("c_acctbal")), 2).as("chk"))
      .select(lit("customer").as("tbl"), col("n"), col("n_cat"), col("chk"))
    val o = graft.sources.SnapshotStore.read(s, oPath)
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderstatus")).as("n_cat"),
        round(sum(col("o_totalprice")), 2).as("chk"))
      .select(lit("orders").as("tbl"), col("n"), col("n_cat"), col("chk"))
    c.unionByName(o).orderBy("tbl")
  }

  /** q146's document — Hasura's NESTED insert over the tracked
    * customer→orders relationship: two parent objects, each carrying
    * child rows under the relationship name; the FK (`o_custkey`)
    * never appears in the text — it stitches from each parent's key. */
  val q146Mutation: String =
    """mutation {
      |  insert_customer(objects: [
      |    {c_custkey: 999001, c_mktsegment: "NEST", c_acctbal: 10.0,
      |     orders: {data: [
      |       {o_orderkey: 999101, o_orderstatus: "N", o_totalprice: 11.0},
      |       {o_orderkey: 999102, o_orderstatus: "N", o_totalprice: 12.0}]}},
      |    {c_custkey: 999002, c_mktsegment: "NEST", c_acctbal: 20.0,
      |     orders: {data: {o_orderkey: 999103, o_orderstatus: "N",
      |                     o_totalprice: 13.0}}}
      |  ]) { affected_rows }
      |}""".stripMargin

  /** q146 — nested object inserts under the oracle gate: the document
    * writes two customers and three FK-stitched orders through the
    * store registry in one mutation field (affected_rows = 5, checked
    * engine-side), and the read-back JOINS the stores on the stitched
    * key — a mis-stitched child detaches from its parent and the
    * per-customer counts hash-fail. Store totals ride along to prove
    * untouched rows survived both AtomicSwap rewrites. */
  def q146NestedInsert(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (cPath, oPath) = graft.FixtureCache.once(s, s"q146|$dir") {
      val cP = graft.Scratch.path(s, "q146c_store", dir)
      val oP = graft.Scratch.path(s, "q146o_store", dir)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), cP)
      // the q131 slice discipline: the orders store is o_orderkey <=
      // 200000 so the rewrite stays bounded; inserted keys 9991xx are
      // new at every SF
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") <= 200000L)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice"), oP)
      val rs = Mutations.applyFieldsToStores(s, Map(
        "customer" -> ((cP, Seq("c_custkey"))),
        "orders" -> ((oP, Seq("o_orderkey")))),
        parsedFields("q146", q146Mutation, "{}"))
      require(rs.map(_.affected) == Seq(5L),
        s"q146: affected_rows should be 5 (2 parents + 3 children), " +
          s"got ${rs.map(_.affected)}")
      (cP, oP)
    }
    val c = graft.sources.SnapshotStore.read(s, cPath)
    val o = graft.sources.SnapshotStore.read(s, oPath)
    val totals = c.agg(count(lit(1)).as("n_cust_total"))
      .crossJoin(o.agg(count(lit(1)).as("n_ord_total")))
    c.filter(col("c_mktsegment") === "NEST")
      .join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"))
      .agg(count(o("o_orderkey")).as("n_orders"),
        round(sum(o("o_totalprice")), 2).as("tot"))
      .crossJoin(totals)
      .orderBy("c_custkey")
  }

  /** q147's document — `update_<t>_many`: the SECOND update's where
    * matches rows the FIRST one just re-segmented, so any engine
    * applying the list non-sequentially (or against pre-document
    * state) increments the wrong rows and hash-fails. */
  val q147Mutation: String =
    """mutation {
      |  update_customer_many(updates: [
      |    {where: {c_acctbal: {_lt: 0.0}}, _set: {c_mktsegment: "NEG"}},
      |    {where: {c_mktsegment: {_eq: "NEG"}},
      |     _inc: {c_acctbal: 10000.0}}
      |  ]) { affected_rows }
      |}""".stripMargin

  /** q147 — Hasura's multi-update verb under the oracle gate:
    * negative balances re-segment to NEG, then every NEG row (exactly
    * the set the first step wrote) gains 10000; the read-back is the
    * q118 segment aggregate, replayed in DuckDB as two chained CASE
    * CTEs in the same order. */
  def q147UpdateMany(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    mutationRoundTrip(s, dir, "q147", q147Mutation, "{}")

  /** q160 — CASCADE FORGET under the oracle gate
    * ([[Mutations.cascadeForget]], the right-to-be-forgotten
    * operation): MACHINERY customers with key ≤ 30 tombstone, and
    * every order of a forgotten customer goes with them — the child
    * delete keyed by the doomed parent keys (inlined below
    * [[Mutations.CascadeInlineKeys]], a KeySet semi-join above it).
    * The read-back counts + key checksums over BOTH stores
    * hash-fail if a child survives its parent or an innocent row
    * dies. */
  def q160CascadeForget(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (cPath, oPath) = graft.FixtureCache.once(s, s"q160|$dir") {
      val cP = graft.Scratch.path(s, "q160c_store", dir)
      val oP = graft.Scratch.path(s, "q160o_store", dir)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "customer")
          .select("c_custkey", "c_mktsegment"), cP)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") <= 50000L)
          .select("o_orderkey", "o_custkey"), oP)
      val res = Mutations.cascadeForget(s, Map(
        "customer" -> ((cP, Seq("c_custkey"))),
        "orders" -> ((oP, Seq("o_orderkey")))),
        "customer",
        QueryBuilder.And(QueryBuilder.Eq("c_mktsegment", "MACHINERY"),
          QueryBuilder.Lte("c_custkey", 30L)),
        Seq(("orders", "o_custkey")))
      require(res.map(_._1) == Seq("customer", "orders") &&
        res.head._2 > 0,
        s"q160: expected a non-empty cascade, got $res")
      (cP, oP)
    }
    val c = graft.sources.SnapshotStore.read(s, cPath)
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("k_sum"))
      .select(lit("customer").as("tbl"), col("n"), col("k_sum"))
    val o = graft.sources.SnapshotStore.read(s, oPath)
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("k_sum"))
      .select(lit("orders").as("tbl"), col("n"), col("k_sum"))
    c.unionByName(o).orderBy("tbl")
  }

  /** q123's document — the by_pk WRITE verbs: a pk_columns update whose
    * response selects the post-update row, and a delete_by_pk whose
    * response selects the removed row's prior values. */
  val q123Mutation: String =
    """mutation {
      |  update_customer_by_pk(pk_columns: {c_custkey: 3},
      |                        _set: {c_mktsegment: "VIP"},
      |                        _inc: {c_acctbal: 50.0}) {
      |    c_custkey c_mktsegment c_acctbal
      |  }
      |  delete_customer_by_pk(c_custkey: 5) { c_custkey c_acctbal }
      |}""".stripMargin

  /** q123 — by_pk mutations under the oracle gate: key 3 re-segments
    * and gains 50.0, key 5 tombstones; the read-back aggregate replays
    * in DuckDB as CASE + WHERE NOT, exactly the q118 contract over the
    * by_pk spellings. */
  def q123ByPkMutations(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    mutationRoundTrip(s, dir, "q123", q123Mutation, "{}")

  /** Attach a mutation field's RELATIONSHIP selections to its
    * returned rows (r17): scalar-only returning is already shaped by
    * the engine; with `retNested` set, the engine kept the FULL rows
    * and this serve step evaluates them through the read path's
    * QueryBuilder.runOn — per relationship one pre-aggregated join
    * back, the exact posture `_stream` delivery uses. */
  def renderReturning(s: org.apache.spark.sql.SparkSession,
      dir: String, f: Mutations.Field,
      fr: Mutations.FieldResult)
      : Option[org.apache.spark.sql.DataFrame] =
    if (f.retNested.isEmpty) fr.returning
    else fr.returning.map(rows => QueryBuilder.runOn(s, dir, rows,
      Request(f.m.table, fields = f.returning.getOrElse(Nil),
        fieldAs = f.returningAs, nested = f.retNested)))

  /** q209's document — RELATIONSHIP selections on mutation
    * `returning` (r17): the updated customers come back with their
    * open orders attached (sliced per relationship), Hasura's
    * mutation-response read surface. */
  val q209Query: String =
    """mutation {
      |  update_customer(where: {c_custkey: {_lte: 20}},
      |                  _inc: {c_acctbal: 100}) {
      |    affected_rows
      |    returning {
      |      c_custkey
      |      bal: c_acctbal
      |      orders(where: {o_orderstatus: {_eq: "O"}},
      |             order_by: [{o_orderkey: asc}], limit: 3)
      |        @join(type: "left") { k: o_orderkey }
      |    }
      |  }
      |}""".stripMargin

  /** q209 — mutation returning WITH relationships under the oracle
    * gate: the store mutates once per process (FixtureCache), the
    * returned rows render through [[renderReturning]] (runOn attach),
    * and DuckDB replays the post-increment balances plus the
    * per-customer top-3 open-order arrays — a dropped/extra order,
    * a pre-increment balance, or a missing empty-array render
    * hash-fails. */
  def q209ReturningRels(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val fields = parsedFields("q209", q209Query, "{}")
    val rendered = graft.FixtureCache.once(s, s"q209|$dir") {
      val path = freshStore(s, dir, "q209")
      val rs = Mutations.applyFieldsToStore(s, path, "customer",
        "c_custkey", fields)
      renderReturning(s, dir, fields.head, rs.head)
        .getOrElse(throw new IllegalStateException(
          "q209: the update declared returning"))
        .localCheckpoint(true)
    }
    rendered
      .select(col("c_custkey"), round(col("bal"), 2).as("bal"),
        col("orders"))
      .orderBy("c_custkey")
  }

  /** q124's document — `returning` with MID-DOCUMENT visibility: the
    * update's returning must include the row the SAME document just
    * inserted (Hasura's in-transaction semantics), post-_inc. */
  // ---- introspection (__typename / __schema / __type) ----------------
  //
  // Every real Hasura client (GraphiQL, Apollo, graphql-codegen) opens
  // its connection with the standard IntrospectionQuery; the reference
  // serves it through Hasura natively (its README examples were
  // authored in GraphiQL). This is the read-only meta-schema subset
  // those clients need: the GraphQL-spec __Schema/__Type/__Field
  // shapes reflected from the SAME tracked [[Schema]] the query
  // parser resolves against, so the advertised surface and the served
  // surface cannot drift apart. Driver-side by design — a schema is
  // session metadata (Spark itself holds every DataFrame schema on
  // the driver); nothing here scans data.
  //
  // Scope notes — the r15-era deviations are CLOSED as of r17:
  //  - argument input-object types (<t>_bool_exp, <t>_order_by,
  //    <sc>_comparison_exp, enums) are modeled and served under
  //    `inputFields`; field `args` carry the real argument surface
  //    (q205 checks it against DuckDB's information_schema).
  //  - <t>_aggregate IS advertised (aggregate_fields arms + nodes)
  //    and rides relationships as <rel>_aggregate. NOTE the engine's
  //    aggregate RESPONSE stays flat (column-per-arm), documented at
  //    [[parseRootAggregate]]; the advertised shape is Hasura's.
  //  - fragment type conditions TYPE-CHECK against the static meta
  //    type being served ([[onType]]): matching conditions splice,
  //    known-other-type conditions contribute nothing (the spec's
  //    non-applicable fragment), unknown names are loud.

  /** A GraphQL type reference: named type or the LIST/NON_NULL
    * wrappers, the `kind/name/ofType` chain clients unwrap. */
  private[api] sealed trait TRef
  private[api] final case class TNamed(kind: String,
      tname: String) extends TRef
  private[api] final case class TList(of: TRef) extends TRef
  private[api] final case class TNonNull(of: TRef) extends TRef

  /** `fargs` are the field's ARGUMENTS (__InputValue rows — the
    * autocompletion surface clients read); empty for plain columns.
    * `defaultValue` is the spec's GraphQL-literal string for
    * defaulted arguments (directive args use it; the generated
    * table-argument surface keeps Hasura's null posture). */
  private[api] final case class MetaField(fname: String, tpe: TRef,
      fargs: Seq[MetaField] = Nil,
      defaultValue: Option[String] = None,
      deprecated: Option[String] = None)

  /** The one deprecation this engine declares (r20): `_similar` /
    * `_nsimilar` still EXECUTE (removing a spelling breaks stored
    * documents), but introspection marks them deprecated — SQL's
    * `SIMILAR TO` is the legacy pattern dialect the engine's own
    * `_regex` family supersedes, so a client browsing the comparison
    * surface is steered to the POSIX spellings. Shared verbatim with
    * q224's DuckDB oracle. */
  private[graft] val SimilarDeprecation: String =
    "SIMILAR TO is the legacy SQL pattern dialect; " +
      "use _regex or _iregex instead"

  /** One served DIRECTIVE — `__schema { directives }` rows (r18).
    * The engine serves exactly these five; advertising anything else
    * (or answering the empty array, the pre-r18 posture) misleads a
    * spec-conformant client probing directive support. */
  private[api] final case class MetaDirective(dname: String,
      description: String, locations: Seq[String],
      dargs: Seq[MetaField])

  /** The served directive surface: the spec's conditional pair at
    * all three executable locations (fields since r13, spreads since
    * r18), plus the three engine-specific FIELD directives the read
    * grammar documents (@fmt/@cast presentation, @join attach mode —
    * what Hasura expresses through column presets and relationship
    * metadata instead). */
  private[api] val servedDirectives: Seq[MetaDirective] = Seq(
    MetaDirective("cast",
      "Engine-specific: cast the selected column to the named SQL " +
        "type before delivery",
      Seq("FIELD"),
      Seq(MetaField("to", TNonNull(TNamed("SCALAR", "String"))))),
    MetaDirective("fmt",
      "Engine-specific: cross-engine presentation — round the " +
        "selected numeric column and/or printf-format it",
      Seq("FIELD"),
      Seq(MetaField("round", TNamed("SCALAR", "Int")),
        MetaField("printf", TNamed("SCALAR", "String")))),
    MetaDirective("include",
      "Directs the executor to include this field or fragment only " +
        "when the `if` argument is true",
      Seq("FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"),
      Seq(MetaField("if", TNonNull(TNamed("SCALAR", "Boolean"))))),
    MetaDirective("join",
      "Engine-specific: relationship attach mode — left keeps " +
        "parents with no children (Hasura's shape), inner drops them",
      Seq("FIELD"),
      Seq(MetaField("type", TNamed("SCALAR", "String"),
        defaultValue = Some("\"left\"")))),
    MetaDirective("skip",
      "Directs the executor to skip this field or fragment when the " +
        "`if` argument is true",
      Seq("FIELD", "FRAGMENT_SPREAD", "INLINE_FRAGMENT"),
      Seq(MetaField("if", TNonNull(TNamed("SCALAR", "Boolean"))))))
  /** `mfields` double as INPUT fields when kind == INPUT_OBJECT (the
    * evaluator serves them under `inputFields`, `fields` answering
    * null per spec); `enumVals` serve ENUM kinds. */
  private[api] final case class MetaType(kind: String, tname: String,
      mfields: Seq[MetaField], enumVals: Seq[String] = Nil)
  private[api] final case class MetaSchema(types: Seq[MetaType]) {
    val byName: Map[String, MetaType] =
      types.map(t => t.tname -> t).toMap
  }

  /** Postgres-flavored scalar names, the Hasura convention (int8 →
    * bigint, float8 stays float8, text → String/Int per the GraphQL
    * builtins Hasura keeps). One spelling per Spark type, mirrored
    * verbatim by q167's DuckDB `information_schema` CASE — the
    * mapping IS the cross-engine contract. */
  private def gqlScalar(dt: org.apache.spark.sql.types.DataType)
      : String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "bigint"
      case IntegerType => "Int"
      case StringType => "String"
      case DoubleType => "float8"
      case FloatType => "Float"
      case BooleanType => "Boolean"
      case TimestampType | TimestampNTZType => "timestamp"
      case DateType => "date"
      case BinaryType => "bytea"
      case other => throw new IllegalArgumentException(
        s"no GraphQL scalar for Spark type ${other.simpleString}")
    }
  }

  private def gqlTypeRef(dt: org.apache.spark.sql.types.DataType)
      : TRef = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      TList(TNonNull(TNamed("SCALAR", gqlScalar(et))))
    case other => TNamed("SCALAR", gqlScalar(other))
  }

  /** Compact SDL-ish rendering of a type-ref chain (`[Float!]`,
    * `bigint`) — q167's flat `type` column. */
  private[api] def renderTRef(t: TRef): String = t match {
    case TNamed(_, n) => n
    case TList(of) => "[" + renderTRef(of) + "]"
    case TNonNull(of) => renderTRef(of) + "!"
  }

  /** Reflect the tracked metadata into the meta-schema: one OBJECT
    * type per table (scalar columns in parquet-ordinal order, then
    * array relationships `rel: [child!]!`, then object relationships
    * `rel: child`, each name-sorted), the three Hasura roots
    * (query_root with `<t>` + `<t>_by_pk`, mutation_root with the
    * three verbs per keyed table returning `<t>_mutation_response`,
    * subscription_root mirroring query_root), and exactly the scalars
    * those fields reference. Types sort by name — Hasura's own
    * introspection order is unspecified, so deterministic-by-name is
    * the canonical choice here. */
  def metaSchema(s: org.apache.spark.sql.SparkSession, dir: String,
      schema: Schema = fixtureSchema,
      tables: Seq[String] = graft.Tables.names,
      columns: Map[String, Set[String]] = Map.empty): MetaSchema = {
    import org.apache.spark.sql.types.ArrayType
    // an absent allowlist admits every parquet column — the
    // unscoped default; Permissions.serveIntrospectionAs passes the
    // role's grants so a client browses exactly what it can query
    val tableCols = tables.map { t =>
      val allowed: String => Boolean =
        columns.get(t).map(set => set.contains(_: String))
          .getOrElse(_ => true)
      t -> graft.Tables.load(s, dir, t).schema.fields.toSeq
        .filter(f => allowed(f.name))
    }.toMap
    // comparison/ordering surfaces take SCALAR (non-array) columns
    val scalarCols = (t: String) =>
      tableCols(t).filterNot(_.dataType.isInstanceOf[ArrayType])
    val numericScalars = Set("bigint", "Int", "float8", "Float")
    // ---- argument input types (r17 — the surface clients
    // autocomplete from; previously args rendered empty) ----
    def inObj(n: String) = TNamed("INPUT_OBJECT", n)
    val selArgs = (t: String) => Seq(
      MetaField("where", inObj(s"${t}_bool_exp")),
      MetaField("order_by", TList(TNonNull(inObj(s"${t}_order_by")))),
      MetaField("limit", TNamed("SCALAR", "Int")),
      MetaField("offset", TNamed("SCALAR", "Int")),
      MetaField("distinct_on",
        TList(TNonNull(TNamed("ENUM", s"${t}_select_column")))))
    val objTypes = tables.map { t =>
      val cols = tableCols(t)
        .map(f => MetaField(f.name, gqlTypeRef(f.dataType)))
      // array relationships carry the child's full argument surface,
      // and each one advertises its `<rel>_aggregate` twin (the
      // served parseRootAggregate/AggRel shape)
      val arrs = schema.rels.collect {
        case ((pt, fname), r) if pt == t =>
          Seq(MetaField(fname,
            TNonNull(TList(TNonNull(TNamed("OBJECT", r.childTable)))),
            fargs = selArgs(r.childTable)),
          MetaField(s"${fname}_aggregate",
            TNonNull(TNamed("OBJECT", s"${r.childTable}_aggregate")),
            fargs = selArgs(r.childTable)))
      }.toSeq.flatten.sortBy(_.fname)
      val objs = schema.objRels.collect {
        case ((pt, fname), r) if pt == t =>
          MetaField(fname, TNamed("OBJECT", r.childTable))
      }.toSeq.sortBy(_.fname)
      MetaType("OBJECT", t, cols ++ arrs ++ objs)
    }
    // one comparison input per scalar in use; String adds the
    // pattern family the where grammar serves (like/ilike/similar/
    // regex — QueryBuilder's comparison surface)
    val usedScalars = tables.flatMap(t => scalarCols(t))
      .map(f => gqlScalar(f.dataType)).distinct.sorted
    val comparisonExps = usedScalars.map { sc =>
      val scalar = TNamed("SCALAR", sc)
      val base = Seq("_eq", "_neq", "_gt", "_gte", "_lt", "_lte")
        .map(MetaField(_, scalar)) ++ Seq(
        MetaField("_in", TList(TNonNull(scalar))),
        MetaField("_nin", TList(TNonNull(scalar))),
        MetaField("_is_null", TNamed("SCALAR", "Boolean")))
      val patterns =
        if (sc != "String") Nil
        else Seq("_like", "_nlike", "_ilike", "_nilike", "_similar",
          "_nsimilar", "_regex", "_iregex", "_nregex")
          .map(n => MetaField(n, scalar, deprecated =
            if (n == "_similar" || n == "_nsimilar")
              Some(SimilarDeprecation)
            else None))
      MetaType("INPUT_OBJECT", s"${sc}_comparison_exp", base ++ patterns)
    }
    val boolExps = tables.map { t =>
      val self = inObj(s"${t}_bool_exp")
      val combinators = Seq(
        MetaField("_and", TList(TNonNull(self))),
        MetaField("_not", self),
        MetaField("_or", TList(TNonNull(self))))
      val cols = scalarCols(t).map(f => MetaField(f.name,
        inObj(s"${gqlScalar(f.dataType)}_comparison_exp")))
      // relationship predicates (the decorrelated EXISTS family)
      val rels = (schema.rels ++ schema.objRels).collect {
        case ((pt, fname), r) if pt == t =>
          MetaField(fname, inObj(s"${r.childTable}_bool_exp"))
      }.toSeq.sortBy(_.fname)
      MetaType("INPUT_OBJECT", s"${t}_bool_exp",
        combinators ++ cols ++ rels)
    }
    val orderByEnum = MetaType("ENUM", "order_by", Nil,
      enumVals = Seq("asc", "asc_nulls_first", "asc_nulls_last",
        "desc", "desc_nulls_first", "desc_nulls_last"))
    val orderBys = tables.map(t => MetaType("INPUT_OBJECT",
      s"${t}_order_by",
      scalarCols(t).map(f =>
        MetaField(f.name, TNamed("ENUM", "order_by")))))
    val selectColEnums = tables.map(t => MetaType("ENUM",
      s"${t}_select_column", Nil,
      enumVals = scalarCols(t).map(_.name)))
    // ---- <t>_aggregate advertisement (r17): the parseRootAggregate
    // document shape — aggregate { count sum {...} ... } + nodes ----
    val aggTypes = tables.flatMap { t =>
      val cs = scalarCols(t)
      val nums = cs.filter(f => numericScalars(gqlScalar(f.dataType)))
      val ownScalar = (fs: Seq[org.apache.spark.sql.types.StructField]) =>
        fs.map(f => MetaField(f.name,
          TNamed("SCALAR", gqlScalar(f.dataType))))
      val float8 = (fs: Seq[org.apache.spark.sql.types.StructField]) =>
        fs.map(f => MetaField(f.name, TNamed("SCALAR", "float8")))
      val numericArms =
        if (nums.isEmpty) Nil
        else Seq(MetaType("OBJECT", s"${t}_sum_fields", ownScalar(nums)),
          MetaType("OBJECT", s"${t}_avg_fields", float8(nums)),
          MetaType("OBJECT", s"${t}_stddev_fields", float8(nums)),
          MetaType("OBJECT", s"${t}_variance_fields", float8(nums)))
      val minMaxArms = Seq(
        MetaType("OBJECT", s"${t}_min_fields", ownScalar(cs)),
        MetaType("OBJECT", s"${t}_max_fields", ownScalar(cs)))
      val armFields =
        MetaField("count", TNonNull(TNamed("SCALAR", "Int")),
          fargs = Seq(
            MetaField("columns", TList(TNonNull(
              TNamed("ENUM", s"${t}_select_column")))),
            MetaField("distinct", TNamed("SCALAR", "Boolean")))) +:
        ((if (nums.isEmpty) Nil
          else Seq("sum", "avg", "stddev", "variance")) ++
          Seq("min", "max"))
          .map(op => MetaField(op, TNamed("OBJECT", s"${t}_${op}_fields")))
      Seq(
        MetaType("OBJECT", s"${t}_aggregate", Seq(
          MetaField("aggregate",
            TNamed("OBJECT", s"${t}_aggregate_fields")),
          MetaField("nodes", TNonNull(TList(TNonNull(
            TNamed("OBJECT", t))))))),
        MetaType("OBJECT", s"${t}_aggregate_fields", armFields)) ++
        numericArms ++ minMaxArms
    }
    val listOf = (t: String) =>
      TNonNull(TList(TNonNull(TNamed("OBJECT", t))))
    val queryFields = tables.flatMap { t =>
      Seq(
        MetaField(t, listOf(t), fargs = selArgs(t)),
        MetaField(s"${t}_aggregate",
          TNonNull(TNamed("OBJECT", s"${t}_aggregate")),
          fargs = selArgs(t))) ++
      schema.keys.get(t).toSeq.flatMap { ks =>
        // one NonNull argument per key component (Hasura's composite
        // by_pk shape); the field exists only when EVERY component is
        // a (role-visible) column — a partial key is no key
        val kfs = ks.flatMap(k => tableCols(t).find(_.name == k))
        if (kfs.length == ks.length)
          Seq(MetaField(s"${t}_by_pk", TNamed("OBJECT", t),
            fargs = kfs.map(kf => MetaField(kf.name,
              TNonNull(TNamed("SCALAR", gqlScalar(kf.dataType)))))))
        else Nil
      }
    }
    val keyed = tables.filter(schema.keys.contains)
    val mutResponses = keyed.map(t => MetaType("OBJECT",
      s"${t}_mutation_response", Seq(
        MetaField("affected_rows", TNonNull(TNamed("SCALAR", "Int"))),
        MetaField("returning", listOf(t)))))
    // ---- WRITE-side argument input types (r17, q211): the verbs the
    // engine serves (all seven spellings) with the input objects a
    // client autocompletes writes from. Generated from the SAME
    // narrowed tableCols as the read surface, so role narrowing
    // composes: an ungranted column vanishes from insert/set inputs,
    // an ungranted KEY drops the *_by_pk/pk_columns spellings ----
    // update-family surfaces exclude the KEY column — the engine
    // rejects every _set/_inc/update_column naming it (an advertised
    // field every use of which fails is exactly the drift this
    // surface exists to prevent); a table with NO non-key scalar
    // columns advertises no update family at all (and no on_conflict
    // — its update_columns enum would be empty, which GraphQL
    // forbids), mirroring Hasura's omit-when-nothing-updatable
    def updatable(t: String) =
      scalarCols(t).filterNot(f => schema.keys(t).contains(f.name))
    val mutInputTypes = keyed.flatMap { t =>
      val cs = scalarCols(t)
      val ks = schema.keys(t)
      val nonKey = updatable(t)
      val nums = nonKey.filter(f => numericScalars(gqlScalar(f.dataType)))
      val ownScalarIn = (fs: Seq[org.apache.spark.sql.types.StructField]) =>
        fs.map(f => MetaField(f.name,
          TNamed("SCALAR", gqlScalar(f.dataType))))
      // nested-insert data arms ride tracked relationships to KEYED
      // children (the InsertTree shapes the engine serves): array
      // rels take `{data: [...]}`, object (parent-side) rels take
      // `{data: {...}}` — both advertised since r18's recursive
      // inserts serve them
      val relData = (schema.rels.collect {
        case ((pt, fname), r) if pt == t && schema.keys.contains(
            r.childTable) =>
          MetaField(fname, inObj(s"${r.childTable}_arr_rel_insert_input"))
      }.toSeq ++ schema.objRels.collect {
        case ((pt, fname), r) if pt == t && schema.keys.contains(
            r.childTable) =>
          MetaField(fname, inObj(s"${r.childTable}_obj_rel_insert_input"))
      }.toSeq).sortBy(_.fname)
      val updateFamily =
        if (nonKey.isEmpty) Nil
        else Seq(
          MetaType("INPUT_OBJECT", s"${t}_set_input",
            ownScalarIn(nonKey)),
          MetaType("INPUT_OBJECT", s"${t}_on_conflict", Seq(
            MetaField("constraint",
              TNonNull(TNamed("ENUM", s"${t}_constraint"))),
            MetaField("update_columns", TNonNull(TList(TNonNull(
              TNamed("ENUM", s"${t}_update_column"))))),
            // the conditional-upsert predicate (r18): applies the
            // update only where it holds on the EXISTING row
            MetaField("where", inObj(s"${t}_bool_exp")))),
          // the one tracked constraint is the primary key
          MetaType("ENUM", s"${t}_constraint", Nil,
            enumVals = Seq(s"${t}_pkey")),
          MetaType("ENUM", s"${t}_update_column", Nil,
            enumVals = nonKey.map(_.name)),
          MetaType("INPUT_OBJECT", s"${t}_updates", Seq(
            MetaField("where", TNonNull(inObj(s"${t}_bool_exp"))),
            MetaField("_set", inObj(s"${t}_set_input"))) ++
            (if (nums.isEmpty) Nil
             else Seq(MetaField("_inc", inObj(s"${t}_inc_input")))))) ++
          (if (nums.isEmpty) Nil
           else Seq(MetaType("INPUT_OBJECT", s"${t}_inc_input",
             ownScalarIn(nums))))
      Seq(
        MetaType("INPUT_OBJECT", s"${t}_insert_input",
          ownScalarIn(cs) ++ relData),
        MetaType("INPUT_OBJECT", s"${t}_arr_rel_insert_input",
          MetaField("data", TNonNull(TList(TNonNull(
            inObj(s"${t}_insert_input"))))) +:
          (if (nonKey.isEmpty) Nil
           else Seq(MetaField("on_conflict",
             inObj(s"${t}_on_conflict"))))),
        // the object-relationship spelling inserts ONE related row
        MetaType("INPUT_OBJECT", s"${t}_obj_rel_insert_input",
          MetaField("data", TNonNull(inObj(s"${t}_insert_input"))) +:
          (if (nonKey.isEmpty) Nil
           else Seq(MetaField("on_conflict",
             inObj(s"${t}_on_conflict")))))) ++
      updateFamily ++ {
        val kfs = ks.flatMap(k => tableCols(t).find(_.name == k))
        if (kfs.length == ks.length)
          Seq(MetaType("INPUT_OBJECT", s"${t}_pk_columns_input",
            kfs.map(kf => MetaField(kf.name, TNonNull(TNamed("SCALAR",
              gqlScalar(kf.dataType)))))))
        else Nil
      }
    }
    val mutFields = keyed.flatMap { t =>
      val ks = schema.keys(t)
      val pkVisible =
        ks.flatMap(k => tableCols(t).find(_.name == k)).length ==
          ks.length
      val nonKey = updatable(t)
      val nums = nonKey.filter(f => numericScalars(gqlScalar(f.dataType)))
      val resp = TNamed("OBJECT", s"${t}_mutation_response")
      val onConflict =
        if (nonKey.isEmpty) Nil
        else Seq(MetaField("on_conflict", inObj(s"${t}_on_conflict")))
      val setInc =
        MetaField("_set", inObj(s"${t}_set_input")) +:
        (if (nums.isEmpty) Nil
         else Seq(MetaField("_inc", inObj(s"${t}_inc_input"))))
      val updateVerbs =
        if (nonKey.isEmpty) Nil
        else Seq(
          MetaField(s"update_$t", resp, fargs =
            MetaField("where", TNonNull(inObj(s"${t}_bool_exp")))
              +: setInc),
          MetaField(s"update_${t}_many",
            TList(TNamed("OBJECT", s"${t}_mutation_response")),
            fargs = Seq(MetaField("updates", TNonNull(TList(TNonNull(
              inObj(s"${t}_updates")))))))) ++
          (if (pkVisible)
            Seq(MetaField(s"update_${t}_by_pk", TNamed("OBJECT", t),
              fargs = MetaField("pk_columns",
                TNonNull(inObj(s"${t}_pk_columns_input"))) +: setInc))
          else Nil)
      Seq(
        MetaField(s"insert_$t", resp, fargs =
          MetaField("objects", TNonNull(TList(TNonNull(
            inObj(s"${t}_insert_input"))))) +: onConflict),
        MetaField(s"insert_${t}_one", TNamed("OBJECT", t), fargs =
          MetaField("object", TNonNull(inObj(s"${t}_insert_input")))
            +: onConflict),
        MetaField(s"delete_$t", resp, fargs = Seq(
          MetaField("where", TNonNull(inObj(s"${t}_bool_exp")))))) ++
      updateVerbs ++
      (if (pkVisible)
        Seq(MetaField(s"delete_${t}_by_pk", TNamed("OBJECT", t),
          fargs = ks.flatMap(k => tableCols(t).find(_.name == k))
            .map(kf => MetaField(kf.name, TNonNull(TNamed("SCALAR",
              gqlScalar(kf.dataType)))))))
      else Nil)
    }
    // ---- `_stream` subscription surface (r17): every table streams
    // on a cursor; the generated input types mirror Hasura's
    // (<t>_stream_cursor_input / _value_input + cursor_ordering) ----
    val streamFields = tables.map { t =>
      MetaField(s"${t}_stream", listOf(t), fargs = Seq(
        MetaField("cursor", TNonNull(TList(
          inObj(s"${t}_stream_cursor_input")))),
        MetaField("batch_size", TNonNull(TNamed("SCALAR", "Int"))),
        MetaField("where", inObj(s"${t}_bool_exp"))))
    }
    val streamInputs = tables.flatMap(t => Seq(
      MetaType("INPUT_OBJECT", s"${t}_stream_cursor_input", Seq(
        MetaField("initial_value", TNonNull(
          inObj(s"${t}_stream_cursor_value_input"))),
        MetaField("ordering", TNamed("ENUM", "cursor_ordering")))),
      MetaType("INPUT_OBJECT", s"${t}_stream_cursor_value_input",
        scalarCols(t).map(f => MetaField(f.name,
          TNamed("SCALAR", gqlScalar(f.dataType))))))) :+
      MetaType("ENUM", "cursor_ordering", Nil,
        enumVals = Seq("ASC", "DESC"))
    val roots = Seq(
      MetaType("OBJECT", "query_root", queryFields),
      MetaType("OBJECT", "mutation_root", mutFields),
      // subscription_root = the read surface (Hasura serves every
      // query field live) PLUS the `_stream` cursor fields
      MetaType("OBJECT", "subscription_root",
        queryFields ++ streamFields))
    def leafScalars(r: TRef): Seq[String] = r match {
      case TNamed("SCALAR", n) => Seq(n)
      case TNamed(_, _) => Nil
      case TList(of) => leafScalars(of)
      case TNonNull(of) => leafScalars(of)
    }
    val withInputs = roots ++ objTypes ++ mutResponses ++
      mutInputTypes ++ streamInputs ++ comparisonExps ++ boolExps ++
      orderBys ++ aggTypes ++ selectColEnums :+ orderByEnum
    // directive args ride the scalar sweep too: a role-narrowed
    // schema with no String column must still resolve @cast(to:)
    val scalars = (withInputs
      .flatMap(t => t.mfields ++ t.mfields.flatMap(_.fargs))
      .flatMap(f => leafScalars(f.tpe)) ++
      servedDirectives.flatMap(_.dargs).flatMap(f => leafScalars(f.tpe)))
      .distinct.sorted.map(n => MetaType("SCALAR", n, Nil))
    MetaSchema((withInputs ++ scalars).sortBy(_.tname))
  }

  /** One parsed introspection selection (generic — the meta model is
    * small enough that the evaluator, not the parser, knows which
    * fields exist where). */
  private final case class ISel(alias: String, iname: String,
      args: Map[String, V], children: Seq[ISel])

  /** A braced introspection selection set. */
  private def introBlock(p: P): Seq[ISel] = {
    p.expect('{')
    val sels = parseIntroSels(p)
    p.expect('}')
    sels
  }

  /** The selections of one introspection selection set, up to (not
    * past) its closing brace — the operation's own set is the
    * [[document]] body. */
  private def parseIntroSels(p: P): Seq[ISel] = {
    val out = Seq.newBuilder[ISel]
    while (!p.isPunct('}')) {
      if (p.isSpread) {
        val pos = p.next().pos
        p.peek match {
          case Name("on", _) =>
            p.next()
            val cond = p.name("type condition")
            // the condition rides the ISel tree as a '...' node — the
            // evaluator checks it against the STATIC meta type being
            // served (r17: conditions were previously spliced unchecked)
            out += ISel(cond, "...", Map.empty, introBlock(p))
          case Name(fname, fpos) =>
            p.next()
            val (cond, body) = p.fragments.getOrElse(fname,
              bad(s"introspection: spread of undefined fragment " +
                s"'$fname' at $fpos"))
            p.usedFrags += fname
            // named spreads expand as inline fragments carrying the
            // fragment's OWN type condition, so the eval-side check
            // applies to both spread forms
            p.splice(Punct('{', fpos) +: body :+ Punct('}', fpos), pos)
            out += ISel(cond, "...", Map.empty, introBlock(p))
          case t => bad("introspection: expected a fragment name or " +
            s"'on' after '...' at ${t.pos}")
        }
      } else {
        val first = p.name("selection")
        val (alias, fname) =
          if (p.isPunct(':')) { p.expect(':'); (first, p.name("field")) }
          else (first, first)
        val args = parseArgs(p)
        // directives (@include/@skip with literal conditions,
        // @deprecated probes) parse and DROP: the meta answer is
        // static, and the standard IntrospectionQuery's only
        // conditional selections gate on variables this subset
        // declines at the operation header anyway
        parseDirectives(p)
        val kids =
          if (p.isPunct('{')) introBlock(p) else Seq.empty[ISel]
        out += ISel(alias, fname, args, kids)
      }
    }
    out.result()
  }

  /** Serve an introspection document against the tracked metadata →
    * the canonical JSON response text (`{"data":{...}}`, Jackson's
    * no-whitespace rendering, object keys in selection order — the
    * spec's serialized-map field order). Root selections may be
    * `__typename`, `__schema`, and `__type(name:)`, in any mix;
    * a data field at the root is a loud error (this engine's data
    * responses are DataFrames, not JSON — route those to [[parse]]).
    * Unknown meta-fields error with their position's field name, so a
    * client sees which selection the subset lacks instead of a
    * silently absent key. The document goes through the shared
    * [[document]] pass like every read: a `query` operation or the
    * shorthand (a mutation or subscription is refused), an
    * operationName choosing among several operations, every
    * fragment spread; it takes no operation variables, so declaring
    * one is an error. The document parses before the meta schema is
    * built. */
  def serveIntrospection(s: org.apache.spark.sql.SparkSession,
      dir: String, query: String, schema: Schema = fixtureSchema,
      tables: Seq[String] = graft.Tables.names,
      columns: Map[String, Set[String]] = Map.empty,
      operationName: Option[String] = None)
      : Either[String, String] = guarded {
    val roots = document(query, None, operationName, Set("query"))(
      (p, _) => parseIntroSels(p))
    val ms = metaSchema(s, dir, schema, tables, columns)
    val data = mapper.createObjectNode()
    onType(ms, "query_root", roots).foreach { sel =>
      sel.iname match {
        case "__typename" => data.put(sel.alias, "query_root")
        case "__schema" =>
          data.set[com.fasterxml.jackson.databind.node.ObjectNode](
            sel.alias, evalSchema(ms, sel.children))
        case "__type" =>
          val tn = sel.args.get("name") match {
            case Some(VLit(n: String)) => n
            case _ => bad("__type: a literal `name` String argument " +
              "is required")
          }
          ms.byName.get(tn) match {
            case Some(t) => data.set[
              com.fasterxml.jackson.databind.node.ObjectNode](
                sel.alias, evalMetaType(ms, t, sel.children))
            case None => data.putNull(sel.alias)
          }
        case other => bad(s"'$other' is not an introspection root " +
          "field — data queries are served by parse/run, not as " +
          "JSON")
      }
    }
    val resp = mapper.createObjectNode()
    resp.set[com.fasterxml.jackson.databind.node.ObjectNode](
      "data", data)
    mapper.writeValueAsString(resp)
  }

  private type JObj = com.fasterxml.jackson.databind.node.ObjectNode

  private val metaTypeNames = Set("__Schema", "__Type", "__Field",
    "__InputValue", "__EnumValue", "__Directive")

  /** Flatten fragment type-condition nodes against the STATIC meta
    * type being evaluated (r17 — the last documented introspection
    * scope cut): a condition naming the current type splices its
    * selections, a KNOWN other type contributes nothing (the spec's
    * non-applicable fragment), an unknown name is loud — the standard
    * IntrospectionQuery's `fragment FullType on __Type` spreads now
    * actually type-check. */
  private def onType(ms: MetaSchema, current: String,
      sels: Seq[ISel]): Seq[ISel] =
    sels.flatMap {
      case ISel(cond, "...", _, kids) =>
        if (!metaTypeNames(cond) && !ms.byName.contains(cond) &&
            cond != "query_root")
          bad(s"introspection: fragment condition on unknown type " +
            s"'$cond'")
        if (cond == current) onType(ms, current, kids) else Nil
      case s => Seq(s)
    }

  private def evalSchema(ms: MetaSchema, sels: Seq[ISel]): JObj = {
    val o = mapper.createObjectNode()
    onType(ms, "__Schema", sels).foreach { sel =>
      sel.iname match {
        case "__typename" => o.put(sel.alias, "__Schema")
        case "description" => o.putNull(sel.alias)
        case "queryType" => o.set[JObj](sel.alias,
          evalMetaType(ms, ms.byName("query_root"), sel.children))
        case "mutationType" => o.set[JObj](sel.alias,
          evalMetaType(ms, ms.byName("mutation_root"), sel.children))
        case "subscriptionType" => o.set[JObj](sel.alias,
          evalMetaType(ms, ms.byName("subscription_root"), sel.children))
        case "types" =>
          val a = o.putArray(sel.alias)
          ms.types.foreach(t =>
            a.add(evalMetaType(ms, t, sel.children)))
        case "directives" =>
          val a = o.putArray(sel.alias)
          servedDirectives.foreach(d =>
            a.add(evalDirective(ms, d, sel.children)))
        case other => bad(s"__Schema has no field '$other' in this " +
          "introspection subset")
      }
    }
    o
  }

  /** A NAMED type's answer — the full __Type surface. Wrapper chains
    * route through [[evalTRef]]; here `ofType` is null (per spec for
    * named types) and the null-for-non-applicable fields
    * (fields/enumValues/inputFields/possibleTypes on the wrong kind)
    * follow the spec's nullability exactly — GraphiQL's schema
    * builder relies on them. */
  /** The spec's `includeDeprecated` argument — `fields`, `enumValues`,
    * `inputFields`, and `args` all take it (default false, per the
    * 2021 spec). Since r20 the flag is OBSERVABLE: the `_similar` /
    * `_nsimilar` comparison input fields are deprecated
    * ([[SimilarDeprecation]]), so the default hides them and
    * `includeDeprecated: true` reveals them with their reason;
    * everything else the engine generates is live. An unknown
    * argument or a non-boolean literal stays loud, never silently
    * dropped. */
  private def includeDeprecatedArg(sel: ISel, at: String): Boolean = {
    (sel.args.keySet - "includeDeprecated").toSeq.sorted.headOption
      .foreach(k => bad(s"$at: unknown argument '$k'"))
    sel.args.get("includeDeprecated") match {
      case None => false
      case Some(VLit(b: Boolean)) => b
      case Some(_) =>
        bad(s"$at.includeDeprecated: expected a boolean literal")
    }
  }

  private def evalMetaType(ms: MetaSchema, t: MetaType,
      sels: Seq[ISel]): JObj = {
    val o = mapper.createObjectNode()
    onType(ms, "__Type", sels).foreach { sel =>
      sel.iname match {
        case "__typename" => o.put(sel.alias, "__Type")
        case "kind" => o.put(sel.alias, t.kind)
        case "name" => o.put(sel.alias, t.tname)
        case "description" | "specifiedByURL" => o.putNull(sel.alias)
        case "fields" =>
          val incF = includeDeprecatedArg(sel, s"${t.tname}.fields")
          if (t.kind != "OBJECT") o.putNull(sel.alias)
          else {
            val a = o.putArray(sel.alias)
            t.mfields.filter(f => incF || f.deprecated.isEmpty)
              .foreach(f => a.add(evalMetaField(ms, f, sel.children)))
          }
        case "interfaces" =>
          if (t.kind != "OBJECT") o.putNull(sel.alias)
          else { o.putArray(sel.alias); () }
        case "inputFields" =>
          // the spec's default HIDES deprecated entries — with the
          // _similar family deprecated (r20) the flag now observably
          // changes this list, exactly the filtering a client's
          // schema-freshness tooling keys on
          val incI = includeDeprecatedArg(sel, s"${t.tname}.inputFields")
          if (t.kind != "INPUT_OBJECT") o.putNull(sel.alias)
          else {
            val a = o.putArray(sel.alias)
            t.mfields.filter(f => incI || f.deprecated.isEmpty)
              .foreach(f => a.add(evalInputValue(ms, f, sel.children)))
          }
        case "enumValues" =>
          includeDeprecatedArg(sel, s"${t.tname}.enumValues")
          if (t.kind != "ENUM") o.putNull(sel.alias)
          else {
            val a = o.putArray(sel.alias)
            t.enumVals.foreach { v =>
              val eo = mapper.createObjectNode()
              onType(ms, "__EnumValue", sel.children).foreach { c =>
                c.iname match {
                  case "__typename" => eo.put(c.alias, "__EnumValue")
                  case "name" => eo.put(c.alias, v)
                  case "description" | "deprecationReason" =>
                    eo.putNull(c.alias)
                  case "isDeprecated" => eo.put(c.alias, false)
                  case other => bad(s"__EnumValue has no field " +
                    s"'$other' in this introspection subset")
                }
              }
              a.add(eo); ()
            }
          }
        case "possibleTypes" => o.putNull(sel.alias)
        case "ofType" => o.putNull(sel.alias)
        case other => bad(s"__Type has no field '$other' in this " +
          "introspection subset")
      }
    }
    o
  }

  private def evalMetaField(ms: MetaSchema, f: MetaField,
      sels: Seq[ISel]): JObj = {
    val o = mapper.createObjectNode()
    onType(ms, "__Field", sels).foreach { sel =>
      sel.iname match {
        case "__typename" => o.put(sel.alias, "__Field")
        case "name" => o.put(sel.alias, f.fname)
        case "description" => o.putNull(sel.alias)
        case "deprecationReason" => f.deprecated match {
          case Some(r) => o.put(sel.alias, r); ()
          case None => o.putNull(sel.alias); ()
        }
        case "args" =>
          val incA = includeDeprecatedArg(sel, s"${f.fname}.args")
          val a = o.putArray(sel.alias)
          f.fargs.filter(arg => incA || arg.deprecated.isEmpty)
            .foreach(arg => a.add(evalInputValue(ms, arg, sel.children)))
        case "type" => o.set[JObj](sel.alias,
          evalTRef(ms, f.tpe, sel.children))
        case "isDeprecated" => o.put(sel.alias, f.deprecated.isDefined)
        case other => bad(s"__Field has no field '$other' in this " +
          "introspection subset")
      }
    }
    o
  }

  /** __InputValue — field arguments and INPUT_OBJECT fields share the
    * shape; the generated table-argument surface models no defaults
    * (null, Hasura's own posture) — DIRECTIVE arguments carry theirs
    * (r18, the spec's GraphQL-literal string form). */
  private def evalInputValue(ms: MetaSchema, f: MetaField,
      sels: Seq[ISel]): JObj = {
    val o = mapper.createObjectNode()
    onType(ms, "__InputValue", sels).foreach { sel =>
      sel.iname match {
        case "__typename" => o.put(sel.alias, "__InputValue")
        case "name" => o.put(sel.alias, f.fname)
        case "description" => o.putNull(sel.alias)
        case "defaultValue" => f.defaultValue match {
          case Some(v) => o.put(sel.alias, v); ()
          case None => o.putNull(sel.alias); ()
        }
        case "type" => o.set[JObj](sel.alias,
          evalTRef(ms, f.tpe, sel.children))
        // __InputValue carries deprecation since the 2021 spec —
        // the r20 _similar family is served through exactly this arm
        case "isDeprecated" => o.put(sel.alias, f.deprecated.isDefined)
        case "deprecationReason" => f.deprecated match {
          case Some(r) => o.put(sel.alias, r); ()
          case None => o.putNull(sel.alias); ()
        }
        case other => bad(s"__InputValue has no field '$other' in " +
          "this introspection subset")
      }
    }
    o
  }

  /** One `__Directive` row — the q216 surface: name, locations (enum
    * values, serialized as strings per the wire format), args as
    * __InputValue rows with defaults. */
  private def evalDirective(ms: MetaSchema, d: MetaDirective,
      sels: Seq[ISel]): JObj = {
    val o = mapper.createObjectNode()
    onType(ms, "__Directive", sels).foreach { sel =>
      sel.iname match {
        case "__typename" => o.put(sel.alias, "__Directive")
        case "name" => o.put(sel.alias, d.dname)
        case "description" => o.put(sel.alias, d.description)
        case "isRepeatable" => o.put(sel.alias, false)
        case "locations" =>
          val a = o.putArray(sel.alias)
          d.locations.foreach(a.add)
        case "args" =>
          val a = o.putArray(sel.alias)
          d.dargs.foreach(arg =>
            a.add(evalInputValue(ms, arg, sel.children)))
        case other => bad(s"__Directive has no field '$other' in " +
          "this introspection subset")
      }
    }
    o
  }

  /** Wrapper kinds answer kind/name/ofType structurally; a named ref
    * delegates the WHOLE selection to its [[MetaType]] — so
    * `type { kind name ofType { ... } }` unwraps `[orders!]!` exactly
    * as the spec's TypeRef fragment expects, and a deep selection on
    * the leaf (fields of the related type) keeps working. */
  private def evalTRef(ms: MetaSchema, r: TRef,
      sels: Seq[ISel]): JObj = r match {
    case TNamed(_, n) =>
      evalMetaType(ms, ms.byName.getOrElse(n,
        bad(s"dangling type reference '$n' — metaSchema emitted a " +
          "ref it did not define")), sels)
    case wrapper =>
      val (kind, of) = wrapper match {
        case TList(x) => ("LIST", x)
        case TNonNull(x) => ("NON_NULL", x)
        case TNamed(_, _) => throw new IllegalStateException("unreachable")
      }
      val o = mapper.createObjectNode()
      onType(ms, "__Type", sels).foreach { sel =>
        sel.iname match {
          case "__typename" => o.put(sel.alias, "__Type")
          case "kind" => o.put(sel.alias, kind)
          case "name" | "description" | "fields" | "interfaces" |
               "inputFields" | "enumValues" | "possibleTypes" |
               "specifiedByURL" => o.putNull(sel.alias)
          case "ofType" => o.set[JObj](sel.alias,
            evalTRef(ms, of, sel.children))
          case other => bad(s"__Type has no field '$other' in this " +
            "introspection subset")
        }
      }
      o
  }

  /** q167's introspection document: the canonical "what tables and
    * columns exist" opener, through the REAL text path. */
  val q167Query: String =
    """{
      |  __schema {
      |    types {
      |      name kind
      |      fields { name type { kind name ofType { kind name
      |        ofType { kind name } } } }
      |    }
      |  }
      |}""".stripMargin

  /** q167 — GraphQL introspection under the oracle gate: serve
    * [[q167Query]], then flatten the RESPONSE (not the model — the
    * parser and evaluator sit inside the gated path) to one row per
    * tracked TABLE type with its scalar columns as a canonical JSON
    * array in parquet-ordinal order, `[{"name":"c_custkey","type":
    * "bigint"},...]`. The DuckDB oracle rebuilds the identical rows
    * from `information_schema.columns` over the same parquet — so the
    * advertised schema is checked against an INDEPENDENT reflection
    * of the data, not against this engine's own metadata. Object-
    * typed relationship fields are present in the response but not in
    * the flat rows (DuckDB has no tracked-relationship notion);
    * GraphQlSpec pins those. */
  /** Flatten a served [[q167Query]] response to one (type_name, kind,
    * fields-json) row per TABLE object type, scalar columns only —
    * the oracle-comparable shape shared by q167 (unscoped) and q175
    * (role-scoped). */
  private[api] def introspectionTypeRows(s: org.apache.spark.sql
      .SparkSession, resp: String): org.apache.spark.sql.DataFrame = {
    val types = mapper.readTree(resp).get("data").get("__schema")
      .get("types")
    val tableSet = graft.Tables.names.toSet
    import scala.jdk.CollectionConverters._
    def flat(tref: com.fasterxml.jackson.databind.JsonNode)
        : Option[String] = tref.get("kind").asText() match {
      case "SCALAR" => Some(tref.get("name").asText())
      case "OBJECT" => None // relationship leaf — not a column
      // a wrapper whose ofType fell off the document's 3-level
      // selection depth can only be wrapping an OBJECT (scalar chains
      // are at most LIST→NON_NULL→SCALAR) — also not a column
      case "LIST" =>
        Option(tref.get("ofType")).flatMap(flat).map(i => s"[$i]")
      case "NON_NULL" =>
        Option(tref.get("ofType")).flatMap(flat).map(i => s"$i!")
      case k => throw new IllegalStateException(s"introspection: kind $k")
    }
    val rows = types.elements().asScala.collect {
      case t if t.get("kind").asText() == "OBJECT" &&
          tableSet(t.get("name").asText()) =>
        val fields = t.get("fields").elements().asScala.flatMap { f =>
          flat(f.get("type")).map(tp =>
            s"""{"name":"${f.get("name").asText()}","type":"$tp"}""")
        }.mkString("[", ",", "]")
        (t.get("name").asText(), "OBJECT", fields)
    }.toSeq
    import s.implicits._
    rows.toDF("type_name", "kind", "fields").orderBy("type_name")
  }

  def q167Introspection(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    introspectionTypeRows(s, serveIntrospection(s, dir, q167Query).fold(
      m => throw new IllegalStateException(s"q167 failed to parse: $m"),
      identity))

  /** q224's document — the DEPRECATION introspection surface (r19):
    * `isDeprecated`/`deprecationReason` on fields and enum values,
    * with the spec's `includeDeprecated` argument in BOTH spellings
    * (explicit true, defaulted false). Nothing this engine generates
    * is deprecated — Hasura deprecates nothing either — so every
    * flag is false and every reason null; the point is the SPEC
    * SHAPE a client tool (graphql-codegen's validation pass) walks. */
  val q224Query: String =
    """{
      |  cu: __type(name: "customer_update_column") {
      |    enumValues(includeDeprecated: true) {
      |      name isDeprecated deprecationReason
      |    }
      |  }
      |  ou: __type(name: "orders_update_column") {
      |    enumValues { name isDeprecated deprecationReason }
      |  }
      |  qf: __type(name: "query_root") {
      |    fields(includeDeprecated: true) { name isDeprecated }
      |  }
      |  sc_all: __type(name: "String_comparison_exp") {
      |    inputFields(includeDeprecated: true) {
      |      name isDeprecated deprecationReason
      |    }
      |  }
      |  sc_live: __type(name: "String_comparison_exp") {
      |    inputFields { name isDeprecated deprecationReason }
      |  }
      |}""".stripMargin

  /** q224 — the deprecation surface under the oracle gate: the
    * update-column enums replay from DuckDB's information_schema
    * (non-key columns per keyed table — q167's independent-reflection
    * discipline), the query_root field list from the tracked
    * table/key inventory, and every row carries the all-false
    * deprecation flags a spec-complete client expects to find. */
  def q224DeprecationSurface(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val resp = serveIntrospection(s, dir, q224Query).fold(
      m => throw new IllegalStateException(s"q224 failed: $m"),
      identity)
    val data = mapper.readTree(resp).get("data")
    import scala.jdk.CollectionConverters._
    def rows(src: String, listField: String)
        : Seq[(String, String, Boolean, Option[String])] =
      data.get(src).get(listField).elements().asScala.map { v =>
        (src, v.get("name").asText(), v.get("isDeprecated").asBoolean(),
          Option(v.get("deprecationReason")).filterNot(_.isNull)
            .map(_.asText()))
      }.toSeq
    import s.implicits._
    // sc_all vs sc_live is the OBSERVABLE filtering (r20): the
    // deprecated _similar family appears only under
    // includeDeprecated: true, with its reason
    (rows("cu", "enumValues") ++ rows("ou", "enumValues") ++
      rows("qf", "fields") ++ rows("sc_all", "inputFields") ++
      rows("sc_live", "inputFields"))
      .toDF("src", "fname", "is_deprecated", "deprecation_reason")
      .orderBy("src", "fname")
  }

  /** q205's document — the ARGUMENT-surface opener (r16 verdict #8;
    * clients autocomplete from exactly this): input objects next to
    * the aggregate return types, through the real text path. */
  val q205Query: String =
    """{
      |  __schema {
      |    types {
      |      name kind
      |      fields { name type { kind name ofType { kind name } } }
      |      inputFields { name type { kind name ofType { kind name } } }
      |    }
      |  }
      |}""".stripMargin

  /** q205 — the advertised ARGUMENT/AGGREGATE surface under the
    * oracle gate: serve [[q205Query]], flatten the response to one
    * row per `<t>_bool_exp` (typed column comparisons — the
    * relationship-predicate and combinator fields are model-only,
    * pinned by spec), `<t>_order_by` (column → order_by enum) and
    * `<t>_sum_fields` (numeric columns) — each rebuilt independently
    * by DuckDB from `information_schema.columns`, so the advertised
    * argument surface is checked against the DATA's own reflection,
    * exactly q167's discipline one level deeper. */
  /** Flatten one introspected type's `fields`/`inputFields` arm to a
    * canonical {name, leaf-type} JSON list — the q205/q211 oracle
    * wire shape; `keep` filters by the UNWRAPPED leaf type name. */
  private def introFieldsJson(t: com.fasterxml.jackson.databind.JsonNode,
      arm: String, keep: String => Boolean): Option[String] = {
    import scala.jdk.CollectionConverters._
    val arr = t.get(arm)
    if (arr == null || arr.isNull) None
    else Some(arr.elements().asScala.flatMap { f =>
      // unwrap NON_NULL/LIST to the named leaf
      var tr = f.get("type")
      while (tr.get("name").isNull && tr.get("ofType") != null &&
        !tr.get("ofType").isNull) tr = tr.get("ofType")
      val n = Option(tr.get("name")).filterNot(_.isNull)
        .map(_.asText()).getOrElse("")
      if (keep(n))
        Some(s"""{"name":"${f.get("name").asText()}",""" +
          s""""type":"$n"}""")
      else None
    }.mkString("[", ",", "]"))
  }

  def q205IntrospectInputs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val resp = serveIntrospection(s, dir, q205Query).fold(
      m => throw new IllegalStateException(s"q205 failed to parse: $m"),
      identity)
    val types = mapper.readTree(resp).get("data").get("__schema")
      .get("types")
    val tableSet = graft.Tables.names.toSet
    import scala.jdk.CollectionConverters._
    val rows = types.elements().asScala.flatMap { t =>
      val nm = t.get("name").asText()
      val kind = t.get("kind").asText()
      if (nm.endsWith("_bool_exp") &&
          tableSet(nm.stripSuffix("_bool_exp")))
        introFieldsJson(t, "inputFields", _.endsWith("_comparison_exp"))
          .map(fs => (nm, kind, fs))
      else if (nm.endsWith("_order_by") &&
          tableSet(nm.stripSuffix("_order_by")))
        introFieldsJson(t, "inputFields", _ == "order_by")
          .map(fs => (nm, kind, fs))
      else if (nm.endsWith("_sum_fields") &&
          tableSet(nm.stripSuffix("_sum_fields")))
        introFieldsJson(t, "fields", _.nonEmpty)
          .map(fs => (nm, kind, fs))
      else None
    }.toSeq.sortBy(_._1)
    import s.implicits._
    rows.toDF("type_name", "kind", "fields")
      .coalesce(1).orderBy("type_name")
  }

  /** q211's document — the WRITE-side argument surface (r17):
    * mutation input objects + update-column enums, through the real
    * text path (q205's read-side discipline applied to writes). */
  val q211Query: String =
    """{
      |  __schema {
      |    types {
      |      name kind
      |      inputFields { name type { kind name ofType { kind name } } }
      |      enumValues { name }
      |    }
      |  }
      |}""".stripMargin

  /** q211 — the advertised MUTATION argument surface under the oracle
    * gate: flatten the served `<t>_insert_input` / `<t>_set_input` /
    * `<t>_inc_input` column arms (relationship data arms are
    * model-only, spec-pinned) and the `<t>_update_column` enums for
    * every KEYED table, each rebuilt independently by DuckDB from
    * information_schema + the tracked key map — the write
    * autocompletion surface checked against the data's own
    * reflection. */
  def q211IntrospectMutInputs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val resp = serveIntrospection(s, dir, q211Query).fold(
      m => throw new IllegalStateException(s"q211 failed to parse: $m"),
      identity)
    val types = mapper.readTree(resp).get("data").get("__schema")
      .get("types")
    val keyed = graft.Tables.names
      .filter(fixtureSchema.keys.contains).toSet
    import scala.jdk.CollectionConverters._
    // the relationship data arms advertise nested-insert inputs —
    // model-only here (spec-pinned), the oracle checks columns
    def inputJson(t: com.fasterxml.jackson.databind.JsonNode): String =
      introFieldsJson(t, "inputFields",
        n => !n.endsWith("_arr_rel_insert_input") &&
          !n.endsWith("_obj_rel_insert_input")).getOrElse("[]")
    def suffixed(nm: String, suffix: String): Boolean =
      nm.endsWith(suffix) && keyed(nm.stripSuffix(suffix))
    val rows = types.elements().asScala.flatMap { t =>
      val nm = t.get("name").asText()
      val kind = t.get("kind").asText()
      if (suffixed(nm, "_insert_input") || suffixed(nm, "_set_input")
          || suffixed(nm, "_inc_input"))
        Some((nm, kind, inputJson(t)))
      else if (suffixed(nm, "_update_column"))
        Some((nm, kind, t.get("enumValues").elements().asScala
          .map(v => s""""${v.get("name").asText()}"""")
          .mkString("[", ",", "]")))
      else None
    }.toSeq.sortBy(_._1)
    import s.implicits._
    rows.toDF("type_name", "kind", "fields")
      .coalesce(1).orderBy("type_name")
  }

  /** q215's document — Hasura's CONDITIONAL upsert (r18):
    * `on_conflict.where` applies the update only where the predicate
    * holds on the EXISTING row. A prep step pins two stored balances
    * to opposite signs (SF-stable), then one insert clashes on both
    * keys — the negative-balance row re-segments, the positive one is
    * SUPPRESSED (not written, not counted), and a fresh key inserts
    * whole. */
  val q215Mutation: String =
    """mutation CondUpsert {
      |  prep: update_customer_many(updates: [
      |    {where: {c_custkey: {_eq: 3}}, _set: {c_acctbal: -50.0}},
      |    {where: {c_custkey: {_eq: 5}}, _set: {c_acctbal: 50.0}}
      |  ]) { affected_rows }
      |  up: insert_customer(objects: [
      |    {c_custkey: 3, c_mktsegment: "COND", c_acctbal: 500.0},
      |    {c_custkey: 5, c_mktsegment: "COND", c_acctbal: 600.0},
      |    {c_custkey: 99904, c_mktsegment: "FRESH2", c_acctbal: 1.5}],
      |    on_conflict: {constraint: customer_pkey,
      |                  update_columns: [c_mktsegment],
      |                  where: {c_acctbal: {_lt: 0.0}}}) {
      |    affected_rows }
      |}""".stripMargin

  /** q215 — the conditional upsert under the oracle gate: key 3
    * (stored balance −50) takes ONLY the listed column (its incoming
    * 500.0 must be ignored — q120's partial-update rule), key 5
    * (stored +50) is suppressed entirely (affected_rows = 2, not 3),
    * key 99904 inserts whole. The read-back carries the suppressed
    * row, the updated row, the fresh row, and whole-store totals —
    * an engine updating unconditionally, counting suppressed rows,
    * or evaluating the predicate on the INCOMING row hash-fails. */
  def q215ConditionalUpsert(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val path = graft.FixtureCache.once(s, s"q215|$dir") {
      val p = freshStore(s, dir, "q215")
      val rs = Mutations.applyFieldsToStore(s, p, "customer",
        "c_custkey", parsedFields("q215", q215Mutation, "{}"))
      require(rs.map(_.affected) == Seq(2L, 2L),
        s"q215: affected_rows should be (2, 2) — the suppressed " +
          s"clash must not count — got ${rs.map(_.affected)}")
      p
    }
    val c = graft.sources.SnapshotStore.read(s, path)
    val tot = c.agg(count(lit(1)).as("n_total"),
      round(sum(col("c_acctbal")), 2).as("chk"))
    c.filter(col("c_custkey").isin(3L, 5L, 99904L))
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("bal"))
      .crossJoin(tot)
      .orderBy("c_custkey")
  }

  /** q216's document — `__schema { directives }` (r18): the probe a
    * spec-conformant client (GraphiQL, graphql-js) runs to learn
    * which directives it may emit; an engine answering the empty
    * array (the pre-r18 posture) makes such clients wrongly conclude
    * `@include`/`@skip` are unsupported. */
  val q216Query: String =
    """{ __schema { directives {
      |  name locations
      |  args { name defaultValue type { kind name ofType { kind name } } }
      |} } }""".stripMargin

  /** q216 — the advertised directive surface flattened for the
    * oracle gate: one row per directive with its locations and typed
    * args (defaults in the spec's literal form). The expected rows
    * are constants BY NATURE (directives are engine surface, not
    * data) — the gate pins the serve path, the spread locations r18
    * added, and the `@join` default. */
  def q216Directives(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val resp = serveIntrospection(s, dir, q216Query).fold(
      m => throw new IllegalStateException(s"q216 failed to parse: $m"),
      identity)
    import scala.jdk.CollectionConverters._
    val ds = mapper.readTree(resp).get("data").get("__schema")
      .get("directives")
    val rows = ds.elements().asScala.map { d =>
      val locs = d.get("locations").elements().asScala
        .map(_.asText()).mkString(",")
      val args = d.get("args").elements().asScala.map { a =>
        val t = a.get("type")
        val ts =
          if (t.get("kind").asText() == "NON_NULL")
            t.get("ofType").get("name").asText() + "!"
          else t.get("name").asText()
        val dv = Option(a.get("defaultValue")).filterNot(_.isNull)
          .map("=" + _.asText()).getOrElse("")
        a.get("name").asText() + ":" + ts + dv
      }.mkString(";")
      (d.get("name").asText(), locs, args)
    }.toSeq
    import s.implicits._
    rows.toDF("dname", "locations", "args")
      .coalesce(1).orderBy("dname")
  }

  /** q178's document — the spec's CONDITIONAL directives, the shape
    * Apollo/Relay clients emit for UI-driven field toggles: with
    * `$all = false` the `@include` selections (a scalar AND a whole
    * relationship) drop and the `@skip` one stays, so the request
    * compiles to exactly two columns. */
  val q178Query: String =
    """query Sel($all: Boolean!) {
      |  customer(where: {c_custkey: {_lte: 40}},
      |           order_by: [{c_custkey: asc}]) {
      |    c_custkey
      |    c_name @include(if: $all)
      |    c_acctbal @skip(if: $all)
      |    orders @include(if: $all) { k: o_orderkey }
      |  }
      |}""".stripMargin

  def q178ConditionalFields(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q178Query, variables = """{"all": false}""") match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q178 failed to parse: $m")
    }

  /** q179's document — a MULTI-OPERATION document (what GraphiQL
    * POSTs from a tabbed editor): q178's operation next to a decoy,
    * selected by `operationName`. Serving the right operation under
    * q178's oracle proves the split + selection; picking the decoy
    * (or ignoring the name) would change the column set and
    * hash-fail. */
  val q179Doc: String = q178Query + "\n" +
    """query Other {
      |  region(order_by: [{r_regionkey: asc}]) { r_regionkey }
      |}""".stripMargin

  def q179OperationName(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q179Doc, variables = """{"all": false}""",
        operationName = Some("Sel")) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q179 failed to parse: $m")
    }

  val q124Mutation: String =
    """mutation {
      |  insert_customer(objects: [{c_custkey: 99903,
      |                             c_mktsegment: "RETFIX",
      |                             c_acctbal: -10.0}]) { affected_rows }
      |  update_customer(where: {c_acctbal: {_lt: 0.0}},
      |                  _inc: {c_acctbal: 1000.0}) {
      |    affected_rows
      |    returning { c_custkey bal: c_acctbal }
      |  }
      |}""".stripMargin

  /** q124 — the returning surface itself is the query result: every
    * negative-balance customer INCLUDING the freshly inserted 99903
    * (an engine evaluating returning against pre-document state
    * drops that row and hash-fails), each at its post-increment
    * balance under the DOCUMENT's alias (`bal: c_acctbal` — r15:
    * aliases serve on mutation returning rows too). Returned rows
    * materialize at their step, before the store swap. */
  def q124MutationReturning(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    // the returning frame pins eagerly inside the fixture so repeat
    // probes never re-resolve lineage against the swapped store
    val returned = graft.FixtureCache.once(s, s"q124|$dir") {
      val path = freshStore(s, dir, "q124")
      val results = Mutations.applyFieldsToStore(s, path, "customer",
        "c_custkey", parsedFields("q124", q124Mutation, "{}"))
      results(1).returning.getOrElse(throw new IllegalStateException(
          "q124: the update field declared returning"))
        .localCheckpoint(true)
    }
    returned
      .select(col("c_custkey"), round(col("bal"), 2).as("bal"))
      .orderBy("c_custkey")
  }

  /** q199's document — SIBLING relationships below the root (r16
    * verdict #3): one nested parent (`orders`) carrying an ARRAY
    * sibling (`items`) and an OBJECT sibling (`customer`) side by
    * side — the reference's own FK graph hangs `offers` and `bids`
    * off one NFT exactly like this (x/common/types.go:51-52; Hasura
    * serves the shape natively, README.md:89-120). */
  val q199Query: String =
    """{
      |  customer(where: {c_custkey: {_lte: 25}},
      |           order_by: [{c_custkey: asc}]) {
      |    c_custkey
      |    orders {
      |      k: o_orderkey
      |      items { ln: l_linenumber @cast(to: "long")
      |              q: l_quantity @cast(to: "long") }
      |      cust: customer { nm: c_name seg: c_mktsegment }
      |    }
      |  }
      |}""".stripMargin

  /** q199 — sibling relationships at depth: each sibling
    * pre-aggregates to one row per key and joins back one at a time
    * (the root's fold applied per level), so the items fan-out and
    * the object lookup can never cross-multiply. The DuckDB oracle
    * composes both joins flat and re-groups — a cross-multiplied
    * items array (row duplicated per sibling row) hash-fails. */
  def q199SiblingRels(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q199Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q199 failed to parse: $m")
    }

  /** q206's document — an ABSENT inner object relationship (r17
    * review pass): the order's own customer filtered to one segment,
    * so most orders' `cust` is NULL — the rendered key must still be
    * present (`"cust":null`, Hasura's shape; Spark's default
    * to_json would DROP the key). `where` on an object relationship
    * is this engine's documented extension (compileRelBody). */
  val q206Query: String =
    """{
      |  customer(where: {c_custkey: {_lte: 20}},
      |           order_by: [{c_custkey: asc}]) {
      |    c_custkey
      |    orders(order_by: [{o_orderkey: asc}]) {
      |      k: o_orderkey
      |      cust: customer(where: {c_mktsegment: {_eq: "BUILDING"}})
      |        { seg: c_mktsegment }
      |    }
      |  }
      |}""".stripMargin

  /** q206 — the absent-object `"key":null` render under the oracle
    * gate: DuckDB rebuilds the array with a CASE-null struct member
    * (its to_json includes null members), so an engine that drops
    * the key — or substitutes an empty object — hash-fails. */
  def q206AbsentObjRel(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q206Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q206 failed to parse: $m")
    }

  /** q210's document — a RELATIONSHIP-ONLY read (r17 review pass):
    * no scalar selected at the root, the response is just the
    * rendered relationship arrays (Hasura serves the shape; the
    * engine's Request now accepts selection-less-but-nested roots). */
  val q210Query: String =
    """{
      |  customer(where: {c_custkey: {_lte: 15}},
      |           order_by: [{c_custkey: asc}]) {
      |    orders(where: {o_orderstatus: {_eq: "F"}},
      |           order_by: [{o_orderkey: asc}], limit: 2)
      |      @join(type: "left") { k: o_orderkey }
      |  }
      |}""".stripMargin

  /** q210 — relationship-only read under the oracle gate: one column
    * of per-customer sliced order arrays, row order pinned by the
    * root order_by (which references a column NOT selected — the
    * hidden pre-attach sort keys carry it). */
  def q210RelOnlyRead(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q210Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q210 failed to parse: $m")
    }

  /** q208's document — MULTI-ROOT batching (r17): three roots in one
    * query operation — an aliased filtered read, a second table, and
    * a `_by_pk` point lookup, and an AGGREGATE root — sharing one
    * variable. The shape every
    * dashboard emits to halve its round-trips; Hasura answers all
    * roots in one response object. */
  val q208Query: String =
    """query Batch($seg: String) {
      |  topc: customer(where: {c_mktsegment: {_eq: $seg}},
      |                 order_by: [{c_custkey: asc}], limit: 5) {
      |    c_custkey c_mktsegment
      |  }
      |  bigo: orders(where: {o_totalprice: {_gte: 200000}},
      |               order_by: [{o_orderkey: asc}], limit: 5) {
      |    o_orderkey o_orderstatus
      |  }
      |  one: customer_by_pk(c_custkey: 7) { c_custkey c_name }
      |  agg: orders_aggregate(where: {o_orderstatus: {_eq: "F"}}) {
      |    aggregate { count }
      |  }
      |}""".stripMargin

  /** q208 — the multi-root response flattened for the oracle gate:
    * one row per (root response key, wire-rendered row). Each root
    * evaluates through the unchanged QueryBuilder.run; DuckDB replays
    * all three and unions — a dropped root, cross-root row leak, or
    * mis-keyed alias hash-fails. */
  def q208MultiRoot(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val roots = parseRoots(q208Query,
        variables = """{"seg": "BUILDING"}""")
      .fold(m => throw new IllegalStateException(
        s"canned q208 failed to parse: $m"), identity)
    runRoots(s, dir, roots).map { case (k, df) =>
      df.select(lit(k).as("root"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*),
          QueryBuilder.jsonOpts).as("row_json"))
    }.reduce(_.unionAll(_)).orderBy("root", "row_json")
  }

  /** q212's document — a `_stream` root BATCHED with reads (r18): one
    * subscription operation carrying an aliased cursor stream, a
    * filtered read, an aggregate, and a `@skip`-ed decoy stream that
    * must still fully compile but contribute nothing. Hasura scopes
    * `_stream` to subscription_root; the engine relaxes the spec's
    * one-root-per-subscription rule the way its multi-root live reads
    * already do (a dashboard's "stream the tail, snapshot the dims"
    * shape in one round-trip). */
  val q212Query: String =
    """subscription Mixed($skipDecoy: Boolean!) {
      |  ev: events_stream(
      |    cursor: {initial_value: {event_id: 3000}, ordering: ASC},
      |    batch_size: 7,
      |    where: {event_type: {_eq: "click"}}) {
      |    event_id user_id et: event_type
      |  }
      |  decoy: events_stream(
      |    cursor: {initial_value: {event_id: null}},
      |    batch_size: 5) @skip(if: $skipDecoy) { event_id }
      |  topc: customer(where: {c_mktsegment: {_eq: "BUILDING"}},
      |                 order_by: [{c_custkey: asc}], limit: 5) {
      |    c_custkey c_name
      |  }
      |  agg: orders_aggregate(where: {o_orderstatus: {_eq: "F"}}) {
      |    aggregate { count }
      |  }
      |}""".stripMargin

  /** q212 — the mixed stream+read batch flattened for the oracle gate
    * (the q208 shape): the stream root replays its first 3 pages
    * through [[Subscriptions.streamPages]] (batch_idx rides each
    * delivered row), the read and aggregate roots evaluate unchanged,
    * and DuckDB unions a q145-style row_number page replay with the
    * flat reads — a dropped root, a served decoy, an unfiltered
    * stream, or a mis-numbered page hash-fails. */
  def q212MixedStreamRoots(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val roots = parseRoots(q212Query,
        variables = """{"skipDecoy": true}""")
      .fold(m => throw new IllegalStateException(
        s"canned q212 failed to parse: $m"), identity)
    runRoots(s, dir, roots, streamNPages = 3).map { case (k, df) =>
      df.select(lit(k).as("root"),
        to_json(struct(df.columns.map(col).toIndexedSeq: _*),
          QueryBuilder.jsonOpts).as("row_json"))
    }.reduce(_.unionAll(_)).orderBy("root", "row_json")
  }

  /** q213's document — RECURSIVE nested inserts (r18): a DEPTH-2
    * array-relationship tree (nation → customers → orders, the
    * reference's users→nfts→offers/bids FK chain shape,
    * x/common/types.go:51-84) whose foreign keys never appear in the
    * text — each level stitches from its parent's key — and an
    * OBJECT-relationship insert (the order's parent-side `customer:
    * {data: {...}}`), whose related row inserts FIRST and stitches
    * its key INTO the order's FK column. */
  val q213Mutation: String =
    """mutation Deep {
      |  insert_nation(objects: [
      |    {n_nationkey: 990, n_name: "NARNIA", n_regionkey: 1,
      |     customers: {data: [
      |       {c_custkey: 999201, c_name: "deep one",
      |        c_mktsegment: "DEEP", c_acctbal: 5.0,
      |        orders: {data: [
      |          {o_orderkey: 999301, o_orderstatus: "D",
      |           o_totalprice: 100.0},
      |          {o_orderkey: 999302, o_orderstatus: "D",
      |           o_totalprice: 200.0}]}},
      |       {c_custkey: 999202, c_name: "deep two",
      |        c_mktsegment: "DEEP", c_acctbal: 6.0}]}}
      |  ]) { affected_rows returning { n_nationkey n_name } }
      |  insert_orders_one(object: {
      |    o_orderkey: 999303, o_orderstatus: "D", o_totalprice: 300.0,
      |    customer: {data: {c_custkey: 999203, c_name: "deep three",
      |                      c_mktsegment: "DEEP", c_acctbal: 7.0,
      |                      c_nationkey: 990}}}) { affected_rows }
      |}""".stripMargin

  /** q213 — recursive nested inserts under the oracle gate: the
    * depth-2 tree writes 1 nation + 2 customers + 2 orders in ONE
    * field (affected_rows = 5, every level counted — checked
    * engine-side along with the root-rows returning), the object-
    * relationship field writes the customer BEFORE its order
    * (affected_rows = 2) with o_custkey stitched from the related
    * object's key. The read-back joins all three stores on the
    * stitched keys — a mis-stitched level detaches and its
    * per-customer counts hash-fail; store totals prove untouched rows
    * survived every AtomicSwap rewrite. */
  def q213DeepInsert(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (cPath, oPath) = graft.FixtureCache.once(s, s"q213|$dir") {
      val nP = graft.Scratch.path(s, "q213n_store", dir)
      val cP = graft.Scratch.path(s, "q213c_store", dir)
      val oP = graft.Scratch.path(s, "q213o_store", dir)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "nation"), nP)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "customer")
          .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment",
            "c_acctbal"), cP)
      // the q131 slice discipline: the orders store is o_orderkey <=
      // 200000 so the rewrite stays bounded; inserted keys 9993xx are
      // new at every SF
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") <= 200000L)
          .select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice"), oP)
      val rs = Mutations.applyFieldsToStores(s, Map(
        "nation" -> ((nP, Seq("n_nationkey"))),
        "customer" -> ((cP, Seq("c_custkey"))),
        "orders" -> ((oP, Seq("o_orderkey")))),
        parsedFields("q213", q213Mutation, "{}"))
      require(rs.map(_.affected) == Seq(5L, 2L),
        s"q213: affected_rows should be (5, 2) — every tree level " +
          s"counts — got ${rs.map(_.affected)}")
      // returning serves the ROOT rows of the tree (the one nation)
      val ret = rs.head.returning.getOrElse(throw new
          IllegalStateException("q213: field 1 declared returning"))
        .collect()
        .map(r => (r.getAs[Number](0).longValue(), r.getString(1))).toSeq
      require(ret == Seq((990L, "NARNIA")),
        s"q213: returning should serve the root nation row, got $ret")
      (cP, oP)
    }
    val c = graft.sources.SnapshotStore.read(s, cPath)
    val o = graft.sources.SnapshotStore.read(s, oPath)
    val totals = c.agg(count(lit(1)).as("n_cust_total"))
      .crossJoin(o.agg(count(lit(1)).as("n_ord_total")))
    c.filter(col("c_custkey") >= 999201L)
      .join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_custkey"), c("c_nationkey"))
      .agg(count(o("o_orderkey")).as("n_orders"),
        round(sum(o("o_totalprice")), 2).as("tot"))
      .crossJoin(totals)
      .orderBy("c_custkey")
  }

  /** q219's document — RELATIONSHIP PREDICATES in mutation where
    * trees (r18): Hasura compiles `delete_orders(where: {customer:
    * {...}})` to an EXISTS over the related table; the engine
    * decorrelates it against the store REGISTRY's current folded
    * state. The second field's predicate reads the orders store
    * AFTER the first field's delete — Hasura's in-transaction
    * visibility, the ordering an engine evaluating predicates
    * against pre-document state gets wrong. */
  val q219Mutation: String =
    """mutation RelWhere {
      |  nuke: delete_orders(
      |    where: {customer: {c_mktsegment: {_eq: "BUILDING"}}}) {
      |    affected_rows }
      |  flag: update_customer(
      |    where: {orders: {o_totalprice: {_gte: 480000}}},
      |    _set: {c_mktsegment: "BIGORD"}) { affected_rows }
      |}""".stripMargin

  /** q219 — relationship-predicate mutations under the oracle gate:
    * every BUILDING customer's orders delete (the object-relationship
    * EXISTS), then customers with a REMAINING ≥480k order re-segment
    * to BIGORD — a BUILDING customer whose big orders were just
    * deleted must NOT re-segment (the post-delete store is what the
    * second predicate sees). The read-back groups customers by final
    * segment with their remaining-order counts: BUILDING rows carry
    * n_ord = 0, and DuckDB replays the EXISTS cascade natively. */
  def q219RelWhereMutations(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val (cPath, oPath) = graft.FixtureCache.once(s, s"q219|$dir") {
      val cP = graft.Scratch.path(s, "q219c_store", dir)
      val oP = graft.Scratch.path(s, "q219o_store", dir)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal"), cP)
      // the q131 slice discipline keeps the rewrite bounded
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "orders")
          .filter(col("o_orderkey") <= 200000L)
          .select("o_orderkey", "o_custkey", "o_totalprice"), oP)
      Mutations.applyFieldsToStores(s, Map(
        "customer" -> ((cP, Seq("c_custkey"))),
        "orders" -> ((oP, Seq("o_orderkey")))),
        parsedFields("q219", q219Mutation, "{}"))
      (cP, oP)
    }
    val c = graft.sources.SnapshotStore.read(s, cPath)
    val o = graft.sources.SnapshotStore.read(s, oPath)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(c("c_mktsegment"))
      .agg(countDistinct(c("c_custkey")).as("n_cust"),
        count(o("o_orderkey")).as("n_ord"),
        round(sum(o("o_totalprice")), 2).as("ord_tot"))
      .orderBy("c_mktsegment")
  }

  /** q214's document — Hasura's JSONB update operator family (r18)
    * over `events.props` (the reference's JSONB columns,
    * x/common/types.go:140,165), composed SEQUENTIALLY so each field
    * sees the previous ones' writes: `_append` builds structure into
    * the `{"k": n}` fixture objects, `_prepend` proves the merge
    * direction (the COLUMN's `k` must win), `_delete_key` /
    * `_delete_at_path` carve it back down on narrower row ranges, and
    * a `_set` + `_delete_elem` pair exercises the top-level-array
    * semantics on a disjoint range. */
  val q214Mutation: String =
    """mutation JsonbOps {
      |  a: update_events(where: {event_id: {_lte: 20}},
      |    _append: {props: {tags: ["a", "b", "c"],
      |                      meta: {x: 1, y: 2}, flag: 7}}) {
      |    affected_rows }
      |  b: update_events(where: {event_id: {_lte: 10}},
      |    _prepend: {props: {k: 999, pre: 1}}) { affected_rows }
      |  c: update_events(where: {event_id: {_lte: 15}},
      |    _delete_key: {props: "flag"}) { affected_rows }
      |  d: update_events(where: {event_id: {_lte: 12}},
      |    _delete_at_path: {props: ["tags", "1"]}) { affected_rows }
      |  e: update_events(where: {event_id: {_lte: 8}},
      |    _delete_at_path: {props: ["meta", "y"]}) { affected_rows }
      |  f: update_events(where: {_and: [{event_id: {_gte: 30}},
      |                                  {event_id: {_lte: 40}}]},
      |    _set: {props: "[\"x\",\"y\",\"z\"]"}) { affected_rows }
      |  g: update_events(where: {_and: [{event_id: {_gte: 30}},
      |                                  {event_id: {_lte: 35}}]},
      |    _delete_elem: {props: -1}) { affected_rows }
      |}""".stripMargin

  /** q214 — the JSONB operator family under the oracle gate: the
    * post-document store's props TEXT per event, byte for byte —
    * canonical (compact, key-sorted) on every rewritten row, the
    * original fixture text on untouched ones. DuckDB replays each
    * range's composition as literal post-states around the row's own
    * `k`; a wrong merge direction, a non-canonical serialization, a
    * missed range boundary, or a leaked rewrite onto untouched rows
    * all hash-fail. */
  def q214JsonbUpdates(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val path = graft.FixtureCache.once(s, s"q214|$dir") {
      val p = graft.Scratch.path(s, "q214_store", dir)
      graft.sources.SnapshotStore.write(
        graft.Tables.load(s, dir, "events")
          .filter(col("event_id") <= 50L)
          .select("event_id", "props"), p)
      val rs = Mutations.applyFieldsToStore(s, p, "events", "event_id",
        parsedFields("q214", q214Mutation, "{}"))
      require(rs.map(_.affected) == Seq(21L, 11L, 16L, 13L, 9L, 11L, 6L),
        s"q214: per-field affected_rows off: ${rs.map(_.affected)}")
      p
    }
    graft.sources.SnapshotStore.read(s, path)
      .select("event_id", "props").orderBy("event_id")
  }

  /** q200's document — an OBJECT-relationship CHAIN below the root
    * (r16 verdict #4): `orders { customer { nation { region }}}`,
    * the natural read of the reference's FK edges
    * (x/common/types.go:65-84). Every level is a many-to-one hop, so
    * the response nests single structs, not arrays. */
  val q200Query: String =
    """{
      |  orders(where: {o_orderkey: {_lte: 400}},
      |         order_by: [{o_orderkey: asc}]) {
      |    o_orderkey
      |    customer {
      |      ck: c_custkey
      |      nation { nm: n_name region { rn: r_name } }
      |    }
      |  }
      |}""".stripMargin

  /** q200 — the depth-3 object chain: each hop compiles through the
    * same pre-aggregate-and-join machinery with `single` rendering
    * the one child struct (null when absent); the top level renders
    * the whole chain as one JSON object column. The oracle is three
    * flat many-to-one joins re-nested with struct literals. */
  def q200ObjRelChain(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q200Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q200 failed to parse: $m")
    }

  /** q201's document — the SAME relationship selected twice under
    * different aliases at a nested level (r16 verdict #5), each
    * occurrence with its own arguments: the filtered arm attaches
    * LEFT (an order with no qualifying item keeps an empty array),
    * the sliced arm keeps the two lowest line numbers. */
  val q201Query: String =
    """{
      |  customer(where: {c_custkey: {_lte: 40}},
      |           order_by: [{c_custkey: asc}]) {
      |    c_custkey
      |    orders {
      |      k: o_orderkey
      |      big: items(where: {l_quantity: {_gte: 30.0}})
      |        @join(type: "left")
      |        { ln: l_linenumber @cast(to: "long")
      |          q: l_quantity @cast(to: "long") }
      |      first2: items(order_by: [{l_linenumber: asc}], limit: 2)
      |        { ln: l_linenumber @cast(to: "long") }
      |    }
      |  }
      |}""".stripMargin

  /** q201 — aliased twins of one relationship: both arms compile
    * independently (own where/slice/joinType) and join back on the
    * same parent key; response keys stay distinct through the
    * aliases. The oracle replays the filtered arm and the
    * row_number-sliced arm as separate CTEs. */
  def q201AliasedSiblings(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q201Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q201 failed to parse: $m")
    }

  /** q202's document — ALIASED aggregate relationships (r16 verdict
    * #5's second half, the Hasura dashboard idiom): the same child
    * aggregated twice, one arm sliced to the 3 latest orders, the
    * other filtered to the big ones. The flat response prefixes each
    * arm's columns with its alias. */
  val q202Query: String =
    """{
      |  customer(where: {c_custkey: {_lte: 100}},
      |           order_by: [{c_custkey: asc}]) {
      |    c_custkey
      |    recent: orders_aggregate(order_by: [{o_orderkey: desc}],
      |                             limit: 3) {
      |      aggregate { count sum { o_totalprice } }
      |    }
      |    hi: orders_aggregate(where:
      |        {o_totalprice: {_gt: 150000.0}}) {
      |      aggregate { count max { o_totalprice } }
      |    }
      |  }
      |}""".stripMargin

  /** q203's document — VARIABLE DEFAULT VALUES (spec
    * CoerceVariableValues; every client library emits them): `$seg`
    * arrives UNBOUND and takes its default, `$cap` arrives bound and
    * the binding wins over the default. */
  val q203Query: String =
    """query Defaults($seg: String = "BUILDING", $cap: bigint! = 10) {
      |  customer(where: {_and: [{c_mktsegment: {_eq: $seg}},
      |                          {c_custkey: {_lte: $cap}}]},
      |           order_by: [{c_custkey: asc}]) {
      |    c_custkey c_mktsegment c_acctbal
      |  }
      |}""".stripMargin

  /** q203 — defaults under the oracle gate: the variables map binds
    * ONLY `cap` (50), so the oracle's replay proves both halves of
    * the coercion order — `seg` from the default, `cap` from the
    * binding (an engine preferring the default over the binding, or
    * dropping the defaulted filter, hash-fails). */
  def q203VariableDefaults(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q203Query, variables = """{"cap": 50}""") match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q203 failed to parse: $m")
    }

  /** q204's document — RELATIONSHIP selections on `_stream` (r16
    * verdict #7): the cursor-paged surface delivers each page with an
    * array relationship (left-attached, Hasura's keep-with-[]
    * semantics) and an object relationship evaluated per delivered
    * row, exactly like a read. */
  val q204Query: String =
    """subscription {
      |  orders_stream(cursor: {initial_value: {o_orderkey: 100},
      |                         ordering: ASC},
      |                batch_size: 10,
      |                where: {o_orderstatus: {_eq: "O"}}) {
      |    o_orderkey
      |    items @join(type: "left")
      |      { ln: l_linenumber @cast(to: "long")
      |        q: l_quantity @cast(to: "long") }
      |    customer { nm: c_name }
      |  }
      |}""".stripMargin

  /** q204 — the batch-replay contract of the relationship-carrying
    * stream: the first 3 pages through [[Subscriptions.streamPages]]
    * with the (s, dir) relationship context; each page row carries
    * its items array (possibly empty — the left attach) and its
    * customer object. SubscriptionsSpec pins the LIVE serve
    * ([[Subscriptions.streamServe]]) to this same answer per
    * trigger. The oracle replays the cursor paging and re-nests both
    * relationships with list/struct literals. */
  def q204StreamRels(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseStream(q204Query) match {
      case Right(sr) => Subscriptions.streamPages(
        graft.Tables.load(s, dir, sr.table), sr, nPages = 3,
        rel = Some((s, dir)))
        .orderBy("o_orderkey")
      case Left(m) => throw new IllegalStateException(
        s"canned q204 failed to parse: $m")
    }

  /** q202 — aggregate-relationship aliases end to end: two AggRels
    * over one child table, outputs `recent_count`,
    * `recent_sum_o_totalprice`, `hi_count`, `hi_max_o_totalprice` —
    * count coalesces 0 and sum 0.0 for childless parents (the flat
    * left-join contract), max stays null, exactly what the oracle's
    * left joins spell. */
  def q202AggRelAliases(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q202Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q202 failed to parse: $m")
    }

  /** q223's document — Hasura's `_cast` comparison operator (r19):
    * `_cast: {String: {...}}` casts the column and evaluates the
    * nested comparisons against the casted value — the jsonb::text
    * idiom over `props`, plus scalar casts proving the SEMANTIC
    * change: `_gte: "995"` compares LEXICOGRAPHICALLY on the casted
    * string, so "30" qualifies while "1007" does not — the exact
    * opposite of what the uncasted numeric comparison would select.
    * Not advertised in
    * `<sc>_comparison_exp` introspection: Hasura itself advertises
    * `_cast` only on special column types (jsonb/geo), and this
    * engine follows that surface. */
  val q223Query: String =
    """{
      |  events(where: {_and: [
      |      {event_id: {_cast: {String: {_like: "%7"}}}},
      |      {event_id: {_cast: {String: {_gte: "29"}}}},
      |      {props: {_cast: {String: {_like: "%4%"}}}},
      |      {event_id: {_lte: 20000}}]},
      |         order_by: [{event_id: asc}]) {
      |    event_id et: event_type props
      |  }
      |}""".stripMargin

  /** q223 — `_cast` under the oracle gate: DuckDB replays the three
    * casted predicates as TRY_CAST comparisons (LIKE on the casted
    * text, lexicographic >= on the casted string) — an engine
    * evaluating the inner operators against the UNCASTED column
    * (numeric >=) selects a different row set and hash-fails. */
  def q223CastFilter(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parse(q223Query) match {
      case Right(r) => QueryBuilder.run(s, dir, r)
      case Left(m) => throw new IllegalStateException(
        s"canned q223 failed to parse: $m")
    }

  /** [[fixtureSchema]] plus `lineitem`'s NATURAL COMPOSITE key
    * (l_orderkey, l_linenumber) — the multi-column constraint Hasura
    * generates `<t>_by_pk(pk1:, pk2:)` for; the reference's own
    * cursor is the composite (Height, TxIndex, MsgID) triple
    * (x/indexer/cursor.go:5-18). Scoped to q222 so the default
    * fixture surface (and its introspection oracles) is unchanged. */
  val compositeSchema: Schema = fixtureSchema.copy(
    keys = fixtureSchema.keys +
      ("lineitem" -> Seq("l_orderkey", "l_linenumber")))

  /** q222's READ document — a multi-root batch of composite by_pk
    * point lookups: at the sf0.01 verify scale root `a` addresses an
    * existing (order, line) pair while root `b` shares the orderkey
    * but misses on the SECOND component — an engine filtering on only
    * one key component would wrongly serve it. (Other scale factors
    * serve whatever the raw table holds — both engines replay the
    * same two-component predicate, so the gate holds at any SF.) */
  val q222ReadQuery: String =
    """query {
      |  a: lineitem_by_pk(l_orderkey: 1, l_linenumber: 3) {
      |    l_orderkey l_linenumber l_quantity
      |  }
      |  b: lineitem_by_pk(l_orderkey: 1, l_linenumber: 4) {
      |    l_orderkey l_linenumber l_quantity
      |  }
      |}""".stripMargin

  /** q222's MUTATION document — the by_pk write verbs on the
    * composite key: pk_columns names BOTH components, delete_by_pk
    * takes one argument per component, the plain insert's clash
    * check passes because (1, 99) is new even though orderkey 1
    * exists (a single-column clash check would reject it), and the
    * on_conflict upsert matches the stored row on the FULL tuple. */
  val q222Mutation: String =
    """mutation CompositePk {
      |  bump: update_lineitem_by_pk(
      |    pk_columns: {l_orderkey: 1, l_linenumber: 901},
      |    _inc: {l_quantity: 100.0}) {
      |    l_orderkey l_linenumber l_quantity
      |  }
      |  drop: delete_lineitem_by_pk(l_orderkey: 2, l_linenumber: 902) {
      |    l_orderkey l_linenumber
      |  }
      |  add: insert_lineitem(objects: [
      |    {l_orderkey: 1, l_linenumber: 99, l_quantity: 5.0, n: 1}]) {
      |    affected_rows }
      |  ups: insert_lineitem(objects: [
      |    {l_orderkey: 3, l_linenumber: 903, l_quantity: 1000.0,
      |     n: 9}],
      |    on_conflict: {constraint: lineitem_pkey,
      |                  update_columns: [l_quantity]}) {
      |    affected_rows }
      |}""".stripMargin

  /** q222 — COMPOSITE PRIMARY KEYS end to end (r19): a store keyed on
    * lineitem's natural (l_orderkey, l_linenumber) — built as the
    * per-(order, line) quantity rollup, which IS unique on the tuple —
    * takes update_by_pk / delete_by_pk / insert / conditional-upsert
    * writes through the same parse → merge → AtomicSwap chain as every
    * scalar-keyed store, with the merge window partitioned on the FULL
    * tuple; the multi-root READ batch serves two composite point
    * lookups (one present, one missing on the second component only).
    * DuckDB replays the rollup, the per-tuple CASE/anti-filter
    * mutations, and the point reads — an engine that collapsed rows
    * of one order, mass-updated an order's lines, or clash-rejected a
    * new line under an existing order hash-fails. */
  /** The per-(order, line) quantity rollup over the bounded slice —
    * unique on the composite key by construction (sums of
    * integral-valued quantities, exact and engine-order-free); the
    * base of q222's store and q229's composite-cursor stream. */
  private def lineitemRollup(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.Tables.load(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 200L)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(round(sum(col("l_quantity")), 2).as("l_quantity"),
        count(lit(1)).as("n"))
  }

  /** q229's document — a `_stream` on the COMPOSITE cursor
    * (l_orderkey, l_linenumber): resume strictly past the (1, 3)
    * tuple in LEXICOGRAPHIC order — the reference's own cursor is
    * the composite (Height, TxIndex, MsgID) triple
    * (x/indexer/cursor.go:5-18), and "rows after the checkpoint"
    * over a multi-part cursor is exactly this predicate. A
    * single-column resume (l_orderkey > 1) would wrongly skip order
    * 1's remaining lines; the oracle's replay catches it. */
  val q229Query: String =
    """subscription {
      |  lineitem_stream(
      |    cursor: {initial_value: {l_orderkey: 1, l_linenumber: 3},
      |             ordering: ASC},
      |    batch_size: 9,
      |    where: {n: {_gte: 2}}) {
      |    l_orderkey l_linenumber l_quantity
      |  }
      |}""".stripMargin

  /** q229 — the composite-cursor stream under the oracle gate: the
    * first 3 pages over the (unique-by-construction) rollup, DuckDB
    * replaying the lexicographic resume predicate and the
    * row_number page cut. */
  def q229CompositeCursorStream(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    parseStream(q229Query) match {
      case Right(sr) => Subscriptions
        .streamPages(lineitemRollup(s, dir), sr, nPages = 3)
        .orderBy("l_orderkey", "l_linenumber")
      case Left(m) => throw new IllegalStateException(
        s"canned q229 failed to parse: $m")
    }

  /** q231's document — a LIVE subscription over the composite-keyed
    * rollup: order_by + limit force the live-query mode (every
    * trigger can re-rank the full result), spelled exactly like the
    * scalar-keyed live subscriptions — the KEY the state folds on
    * comes from the tracked schema, not the document. */
  val q231Query: String =
    """subscription {
      |  lineitem(
      |    where: {n: {_gte: 2}},
      |    order_by: [{l_quantity: desc}, {l_orderkey: asc},
      |               {l_linenumber: asc}],
      |    limit: 20) {
      |    l_orderkey l_linenumber l_quantity n
      |  }
      |}""".stripMargin

  /** q231 — COMPOSITE-KEY LIVE QUERY (r20): the q222 composite store
    * served as a LIVE change-feed. The subscription document parses
    * under the composite schema, [[Subscriptions.liveQuery]] folds
    * the triggers into latest-wins state partitioned on the FULL
    * (l_orderkey, l_linenumber) tuple — the [[graft.sources
    * .SnapshotStore]] composite-merge contract promoted to the serve
    * path — and each trigger pushes the COMPLETE re-ranked result.
    * The deterministic two-trigger feed delivers the whole rollup,
    * then re-delivers every l_orderkey % 7 == 3 tuple with +100
    * quantity (an UPSERT per tuple — several lines of one order
    * update together). The DuckDB oracle replays the final merged
    * state and the order/limit: an engine folding state on the
    * leading key component alone collapses each order's lines and
    * hash-fails; one applying upserts without tuple identity
    * duplicates them and hash-fails on the re-rank. */
  def q231CompositeLiveQuery(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val req = parse(q231Query, schema = compositeSchema).fold(
      m => throw new IllegalStateException(
        s"canned q231 failed to parse: $m"), identity)
    val keyCols = compositeSchema.keys(req.table)
    // the bounded q222 slice (~600 tuples at any SF) as a
    // deterministic replayable feed
    val feed = lineitemRollup(s, dir).collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSeq
    val t1 = feed.map { case (ok, ln, q, n) => (ok, ln, q, n, 1L) }
    val t2 = feed.filter(_._1 % 7 == 3)
      .map { case (ok, ln, q, n) => (ok, ln, q + 100.0, n, 2L) }
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Int, Double, Long, Long)]
    val pushed = scala.collection.mutable
      .ArrayBuffer.empty[org.apache.spark.sql.DataFrame]
    val query = Subscriptions.liveQuery(
      input.toDF().toDF("l_orderkey", "l_linenumber", "l_quantity",
        "n", "seq"),
      req, keyCols, seqCol = Some("seq")) { (_, df) =>
      pushed += df.localCheckpoint(true); ()
    }
    try {
      input.addData(t1); query.processAllAvailable()
      if (t2.nonEmpty) { input.addData(t2); query.processAllAvailable() }
    } finally query.stop()
    require(pushed.nonEmpty, "q231: the live serve pushed nothing")
    pushed.last
  }

  def q222CompositePk(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val path = graft.FixtureCache.once(s, s"q222|$dir") {
      val p = graft.Scratch.path(s, "q222_store", dir)
      // the q131 slice discipline: a bounded rollup store, unique on
      // the composite key by construction (sums of integral-valued
      // quantities — exact, engine-order-free). Three SEED rows in
      // the 9xx linenumber space (never natural — natural linenumbers
      // are single digits) give the mutations SF-INDEPENDENT targets:
      // which natural (order, line) tuples exist varies by scale
      // factor, and a pinned natural target would crash the sf0.1
      // bench run while verifying only at sf0.01
      import s.implicits._
      val seeds = Seq((1L, 901, 11.0, 1L), (2L, 902, 22.0, 1L),
        (3L, 903, 33.0, 1L))
        .toDF("l_orderkey", "l_linenumber", "l_quantity", "n")
      graft.sources.SnapshotStore.write(
        lineitemRollup(s, dir).unionByName(seeds), p)
      val rs = Mutations.applyFieldsToStore(s, p, "lineitem",
        Seq("l_orderkey", "l_linenumber"),
        parsedFields("q222", q222Mutation, "{}", compositeSchema))
      require(rs.map(_.affected) == Seq(1L, 1L, 1L, 1L),
        s"q222: each verb touches exactly one (order, line) row, " +
          s"got ${rs.map(_.affected)}")
      // the update's returning is the post-inc row — ONE row, proving
      // the by_pk verb addressed a single tuple, not all of order 1
      val bumped = rs.head.returning.getOrElse(throw new
          IllegalStateException("q222: bump declared returning"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
      require(bumped == Seq((1L, 901)),
        s"q222: bump should return exactly row (1, 901), got $bumped")
      p
    }
    val reads = parseRoots(q222ReadQuery, schema = compositeSchema)
      .fold(m => throw new IllegalStateException(
        s"canned q222 read failed to parse: $m"), identity)
    val readRows = runRoots(s, dir, reads).map { case (k, df) =>
      df.select(lit(k).as("src"), col("l_orderkey").as("k1"),
        col("l_linenumber").cast("long").as("k2"),
        col("l_quantity").as("qty"), lit(1L).as("n"))
    }.reduce(_.unionAll(_))
    val store = graft.sources.SnapshotStore.read(s, path)
      .filter(col("l_orderkey") <= 10L)
      .groupBy(col("l_orderkey").as("k1"))
      .agg(sum(col("l_linenumber")).cast("long").as("k2"),
        round(sum(col("l_quantity")), 2).as("qty"),
        count(lit(1)).as("n"))
      .select(lit("store").as("src"), col("k1"), col("k2"),
        col("qty"), col("n"))
    store.unionByName(readRows).orderBy("src", "k1")
  }
}
