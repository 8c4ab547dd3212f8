package graft.turtle

import Ast._

/** Recursive-descent Turtle parser, production-for-production equivalent to
  * the reference grammar (reference: /root/reference/src/lib.rs, parse fns).
  *
  * Faithfulness notes (these quirks are load-bearing for byte-identical
  * round-trips and for triple P/R vs the reference — do NOT "fix" them):
  *
  *  - Ordered alternatives are PEG-style: first match wins. Orderings that
  *    matter: Double before Decimal before Integer (lib.rs:1154-1158), long
  *    quote styles before short (lib.rs:1516-1527), BlankNode before IRI
  *    (lib.rs:248, 625), RDFLiteral before Boolean before Numeric
  *    (lib.rs:1048-1052), Directive before Triples (lib.rs:94-97).
  *  - PN_LOCAL is the reference's approximation (lib.rs:981-982): after ':'
  *    it greedily takes everything that is not ` \t\r\n,)]` — so it eats `;`
  *    `.` `#`. (This is why `blank_node_object_dot.ttl` fails to parse.)
  *  - A prefix name in a PrefixedName is `many1(PN_CHARS)` — no first-char
  *    restriction (lib.rs:979 TODO).
  *  - `<...>` IRI references take 1+ chars up to `>` with no validation and
  *    no unescaping (lib.rs:956); `<>` does NOT parse (nom is_not needs 1+).
  *  - A Triples statement requires >=1 plain whitespace (no comments) before
  *    the final '.' and that whitespace is DISCARDED (lib.rs:206-208); the
  *    serializer re-emits exactly " ." (lib.rs:219,226).
  *  - Blank node labels: many1(first-class) ++ many0(PN_CHARS|'.') — a
  *    trailing '.' is swallowed into the label (lib.rs:362-405).
  *  - String scanning finds the first closing quote preceded by an even
  *    number of backslashes (lib.rs:1420-1462).
  *  - Whitespace includes `#` comments to end-of-line (lib.rs:141-147).
  *
  * Positions are UTF-16 indices into the input; character-class scans iterate
  * by code point (PN_CHARS_BASE spans #x10000-#xEFFFF, lib.rs:1015).
  *
  * Implementation style: allocation-free backtracking — every production
  * takes a position, returns the parsed node or `null` (no Option/tuple
  * boxing), and publishes the next position in the parser's `rp` field on
  * success. Parse is the hot loop of the 100 TB pipeline; this style
  * measured ~2x faster than the Option-based equivalent.
  */
object TurtleParser {

  /** Why [[parseFull]] refused its input. The lenient parse always
    * succeeds on some prefix (possibly empty), so the one failure is an
    * unconsumed remainder. */
  sealed trait ParseFailure extends Product with Serializable
  /** Document parsed but input remains (lib.rs:41-44). */
  final case class NotFullyParsed(remainder: String) extends ParseFailure

  /** Lenient parse: consumes the longest valid document prefix, returns the
    * doc and the number of chars consumed (lib.rs:47-58). */
  def parse(input: String): (TurtleDoc, Int) = {
    val p = new Parser(input)
    val stmts = p.statements(0)
    var end = p.rp
    val trail = p.ws(end)
    if (trail != null) end = p.rp
    (TurtleDoc(stmts, Option(trail)), end)
  }

  /** Strict parse: the whole input must be consumed (lib.rs:38-45). */
  def parseFull(input: String): Either[ParseFailure, TurtleDoc] = {
    val (doc, end) = parse(input)
    if (end != input.length) Left(NotFullyParsed(input.substring(end)))
    else Right(doc)
  }

  /** Max nesting depth of objects (collections / BNPLs). A crawled document
    * with pathological nesting must yield a parse failure (an error row at
    * the pipeline level), never a StackOverflowError that kills the task. */
  val MAX_DEPTH = 512

  private val NO_WS: Option[String] = None

  private final class Parser(val in: String) {
    private val n = in.length
    private var depth = 0
    /** Next position after the last successful production (result pos). */
    var rp: Int = 0

    // ---- lexical helpers -------------------------------------------------

    /** [161s] WS ::= #x20 | #x9 | #xD | #xA (lib.rs:150-153) */
    @inline private def isWsChar(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\r' || c == '\n'

    /** Whitespace incl. comments, merged into one string (lib.rs:121-148).
      * Returns null if no whitespace at pos. */
    def ws(pos: Int): String = {
      var i = pos
      var going = true
      while (going && i < n) {
        val c = in.charAt(i)
        if (isWsChar(c)) i += 1
        else if (c == '#') { // comment to EOL; '\n' belongs to next ws run
          i += 1
          while (i < n && in.charAt(i) != '\n') i += 1
        } else going = false
      }
      if (i == pos) null
      else { rp = i; in.substring(pos, i) }
    }

    /** opt(ws) as an Option (AST slots want Option[String]). */
    @inline def optWs(pos: Int): Option[String] = {
      val w = ws(pos)
      if (w == null) { rp = pos; NO_WS } else Some(w)
    }

    /** nom multispace1: 1+ of space/tab/CR/LF, comments NOT included.
      * Returns next pos or -1. */
    def multispace1(pos: Int): Int = {
      var i = pos
      while (i < n && isWsChar(in.charAt(i))) i += 1
      if (i == pos) -1 else i
    }

    @inline private def startsWith(pos: Int, s: String): Boolean =
      in.startsWith(s, pos)

    // [163s..166s] character classes (lib.rs:999-1033)
    def isPnCharsBase(cp: Int): Boolean =
      (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= 0x00C0 && cp <= 0x00D6) || (cp >= 0x00D8 && cp <= 0x00F6) ||
        (cp >= 0x00F8 && cp <= 0x02FF) || (cp >= 0x0370 && cp <= 0x037D) ||
        (cp >= 0x037F && cp <= 0x1FFF) || (cp >= 0x200C && cp <= 0x200D) ||
        (cp >= 0x2070 && cp <= 0x218F) || (cp >= 0x2C00 && cp <= 0x2FEF) ||
        (cp >= 0x3001 && cp <= 0xD7FF) || (cp >= 0xF900 && cp <= 0xFDCF) ||
        (cp >= 0xFDF0 && cp <= 0xFFFD) || (cp >= 0x10000 && cp <= 0xEFFFF)

    def isPnCharsU(cp: Int): Boolean = isPnCharsBase(cp) || cp == '_'

    def isPnChars(cp: Int): Boolean =
      isPnCharsU(cp) || cp == '-' || (cp >= '0' && cp <= '9') ||
        cp == 0x00B7 || (cp >= 0x0300 && cp <= 0x036F) ||
        (cp >= 0x203F && cp <= 0x2040)

    /** Scan 0+ code points matching `pred`; returns end position. */
    private def scanCp(pos: Int, pred: Int => Boolean): Int = {
      var i = pos
      while (i < n) {
        val cp = in.codePointAt(i)
        if (!pred(cp)) return i
        i += Character.charCount(cp)
      }
      i
    }

    // ---- document --------------------------------------------------------

    /** many0(Statement::parse) (lib.rs:52). Leaves rp after last statement. */
    def statements(pos: Int): Vector[Statement] = {
      val acc = Vector.newBuilder[Statement]
      var cur = pos
      var going = true
      while (going) {
        val s = statement(cur)
        if (s == null) going = false
        else { acc += s; cur = rp }
      }
      rp = cur
      acc.result()
    }

    /** alt(Directive, Triples) (lib.rs:94-97). The shared leading `opt(ws)`
      * of every alternative is hoisted — each reference alternative parses
      * the identical opt(Whitespace) first, so this is semantics-preserving
      * and avoids re-lexing the whitespace five times. */
    def statement(pos: Int): Statement = {
      val w = optWs(pos)
      val p = rp
      val d = directive(w, p)
      if (d != null) return StDirective(d)
      val t = triples(w, p)
      if (t != null) StTriples(t) else null
    }

    // ---- directives (lib.rs:711-928) --------------------------------------

    /** alt of the four forms, reference order. */
    def directive(w: Option[String], pos: Int): Directive = {
      if (pos >= n) return null
      val c = in.charAt(pos)
      // fast dispatch on first char; full backtracking preserved because
      // each form either fully matches or fails without consuming
      if (c == '@') {
        val b = baseDirective(w, pos)
        if (b != null) return b
        return prefixDirective(w, pos)
      }
      if (c == 'B') {
        val b = sparqlBaseDirective(w, pos)
        if (b != null) return b
      }
      if (c == 'P') {
        val p = sparqlPrefixDirective(w, pos)
        if (p != null) return p
      }
      null
    }

    /** ws? "@base" ms1 IRIREF ms1 '.' (lib.rs:754-767) */
    def baseDirective(w: Option[String], pos: Int): Directive = {
      if (!startsWith(pos, "@base")) return null
      val p2 = multispace1(pos + 5)
      if (p2 < 0) return null
      val iri = iriRef(p2)
      if (iri == null) return null
      val p4 = multispace1(rp)
      if (p4 < 0 || p4 >= n || in.charAt(p4) != '.') return null
      rp = p4 + 1
      BaseDirective(w, iri)
    }

    /** ws? "BASE" ms1 IRIREF — no dot (lib.rs:798-809) */
    def sparqlBaseDirective(w: Option[String], pos: Int): Directive = {
      if (!startsWith(pos, "BASE")) return null
      val p2 = multispace1(pos + 4)
      if (p2 < 0) return null
      val iri = iriRef(p2)
      if (iri == null) return null
      SparqlBaseDirective(w, iri)
    }

    /** ws? "@prefix" ms1 (not-':')* ':' ms1 IRIREF ms1 '.'
      * (lib.rs:843-863) — the prefix name is "anything but colon". */
    def prefixDirective(w: Option[String], pos: Int): Directive = {
      if (!startsWith(pos, "@prefix")) return null
      val p2 = multispace1(pos + 7)
      if (p2 < 0) return null
      var i = p2
      while (i < n && in.charAt(i) != ':') i += 1
      if (i >= n) return null
      val pfx = if (i > p2) Some(in.substring(p2, i)) else None
      val p5 = multispace1(i + 1)
      if (p5 < 0) return null
      val iri = iriRef(p5)
      if (iri == null) return null
      val p7 = multispace1(rp)
      if (p7 < 0 || p7 >= n || in.charAt(p7) != '.') return null
      rp = p7 + 1
      PrefixDirective(w, pfx, iri)
    }

    /** ws? "PREFIX" ms1 (not-':')* ':' ms1 IRIREF (lib.rs:899-915) */
    def sparqlPrefixDirective(w: Option[String], pos: Int): Directive = {
      if (!startsWith(pos, "PREFIX")) return null
      val p2 = multispace1(pos + 6)
      if (p2 < 0) return null
      var i = p2
      while (i < n && in.charAt(i) != ':') i += 1
      if (i >= n) return null
      val pfx = if (i > p2) Some(in.substring(p2, i)) else None
      val p5 = multispace1(i + 1)
      if (p5 < 0) return null
      val iri = iriRef(p5)
      if (iri == null) return null
      SparqlPrefixDirective(w, pfx, iri)
    }

    // ---- triples (lib.rs:179-211) ------------------------------------------

    /** (labeled | blank-subject form) multispace1 '.' — the alt commits:
      * if the labeled form matches but the ' .' tail doesn't, the whole
      * statement fails without retrying the blank form (nom tuple). */
    def triples(w: Option[String], pos: Int): Triples = {
      var head: Triples = null
      val subj = subject(pos)
      if (subj != null) {
        val pol = predicateObjectList(rp)
        if (pol != null) head = TriplesLabeled(w, subj, pol)
      }
      if (head == null) {
        val bnpl = blankNodePropertyList(pos)
        if (bnpl == null) return null
        val afterBnpl = rp
        val pol = predicateObjectList(afterBnpl)
        head =
          if (pol != null) TriplesBlank(w, bnpl, Some(pol))
          else { rp = afterBnpl; TriplesBlank(w, bnpl, None) }
      }
      val p1 = multispace1(rp)
      if (p1 < 0 || p1 >= n || in.charAt(p1) != '.') return null
      rp = p1 + 1
      head
    }

    /** alt(BlankNode, IRI, Collection) — BlankNode first (lib.rs:247-252) */
    def subject(pos: Int): Subject = {
      val b = blankNode(pos)
      if (b != null) return SubjBlankNode(b)
      val i = iri(pos)
      if (i != null) return SubjIri(i)
      val c = collection(pos)
      if (c != null) return SubjCollection(c)
      null
    }

    /** alt(IRI, 'a') (lib.rs:279) */
    def verb(pos: Int): Verb = {
      val i = iri(pos)
      if (i != null) return VerbIri(i)
      if (pos < n && in.charAt(pos) == 'a') { rp = pos + 1; VerbA }
      else null
    }

    /** alt(IRIReference, PrefixedName) (lib.rs:307-310) */
    def iri(pos: Int): Iri = {
      val r = iriRef(pos)
      if (r != null) return r
      prefixedName(pos)
    }

    /** '<' is_not(">") '>' (lib.rs:956) */
    def iriRef(pos: Int): IriRef = {
      if (pos >= n || in.charAt(pos) != '<') return null
      var i = pos + 1
      while (i < n && in.charAt(i) != '>') i += 1
      if (i >= n || i == pos + 1) return null // is_not requires 1+ chars
      rp = i + 1
      IriRef(in.substring(pos + 1, i))
    }

    /** opt(many1(PN_CHARS)) ':' opt(is_not(" \t\r\n,)]")) (lib.rs:975-988) */
    def prefixedName(pos: Int): PrefixedName = {
      val pEnd = scanCp(pos, isPnChars)
      if (pEnd >= n || in.charAt(pEnd) != ':') return null
      val prefix = if (pEnd > pos) Some(in.substring(pos, pEnd)) else None
      var i = pEnd + 1
      while (i < n && {
          val c = in.charAt(i)
          c != ' ' && c != '\t' && c != '\r' && c != '\n' &&
            c != ',' && c != ')' && c != ']'
        }) i += 1
      val name = if (i > pEnd + 1) Some(in.substring(pEnd + 1, i)) else None
      rp = i
      PrefixedName(prefix, name)
    }

    /** alt(BlankNodeLabel, BlankNodeAnonymous) (lib.rs:337-340) */
    def blankNode(pos: Int): BlankNode = {
      val l = blankNodeLabel(pos)
      if (l != null) return l
      blankNodeAnon(pos)
    }

    /** "_:" many1(PN_CHARS_U|digit) many0(PN_CHARS|'.') (lib.rs:367-385).
      * The reference's third scan many0(PN_CHARS) always matches empty
      * because PN_CHARS is a subset of the middle class. */
    def blankNodeLabel(pos: Int): BlankNode = {
      if (!startsWith(pos, "_:")) return null
      val s = pos + 2
      val firstEnd = scanCp(s, cp => isPnCharsU(cp) || (cp >= '0' && cp <= '9'))
      if (firstEnd == s) return null
      val midEnd = scanCp(firstEnd, cp => isPnChars(cp) || cp == '.')
      rp = midEnd
      BlankNodeLabel(in.substring(s, midEnd))
    }

    /** '[' ws? ']' (lib.rs:422-427) */
    def blankNodeAnon(pos: Int): BlankNode = {
      if (pos >= n || in.charAt(pos) != '[') return null
      val w = optWs(pos + 1)
      val p = rp
      if (p < n && in.charAt(p) == ']') { rp = p + 1; BlankNodeAnon(w) }
      else null
    }

    /** many1( ws? Verb ObjectList (ws? ';')? ) (lib.rs:455-473). The ';'
      * presence collapses into its leading-ws Option, exactly like the
      * reference's `.map(|(ws, _)| ws).flatten()`. */
    def predicateObjectList(pos: Int): PredicateObjectList = {
      val items = Vector.newBuilder[PolItem]
      var cur = pos
      var count = 0
      var going = true
      while (going) {
        val w = optWs(cur)
        val v = verb(rp)
        if (v == null) going = false
        else {
          val ol = objectList(rp)
          if (ol == null) going = false
          else {
            // opt( (ws?, ';') )
            val afterOl = rp
            val sw = optWs(afterOl)
            val p4 = rp
            if (p4 < n && in.charAt(p4) == ';') {
              items += PolItem(w, v, ol, sw)
              cur = p4 + 1
            } else {
              items += PolItem(w, v, ol, None)
              cur = afterOl
            }
            count += 1
          }
        }
      }
      if (count == 0) null
      else { rp = cur; PredicateObjectList(items.result()) }
    }

    /** many1(alt( ws? Object , ws? ',' ws? Object )) (lib.rs:562-590) —
      * the no-comma form is tried first on every iteration. */
    def objectList(pos: Int): ObjectList = {
      val items = Vector.newBuilder[ObjectListItem]
      var cur = pos
      var count = 0
      var going = true
      while (going) {
        val w = optWs(cur)
        val p1 = rp
        val o = obj(p1)
        if (o != null) {
          items += ObjectListItem(None, w, o)
          cur = rp
          count += 1
        } else if (p1 < n && in.charAt(p1) == ',') {
          val wa = optWs(p1 + 1)
          val o2 = obj(rp)
          if (o2 != null) {
            items += ObjectListItem(w, wa, o2)
            cur = rp
            count += 1
          } else going = false
        } else going = false
      }
      if (count == 0) null
      else { rp = cur; ObjectList(items.result()) }
    }

    /** alt(BlankNode, IRI, Collection, BNPL, Literal) (lib.rs:624-631).
      * Depth-guarded: beyond MAX_DEPTH the object fails to parse, which
      * surfaces as NotFullyParsed for the document. */
    def obj(pos: Int): Obj = {
      if (depth >= MAX_DEPTH) return null
      depth += 1
      val r = objInner(pos)
      depth -= 1
      r
    }

    private def objInner(pos: Int): Obj = {
      val b = blankNode(pos)
      if (b != null) return ObjBlankNode(b)
      val i = iri(pos)
      if (i != null) return ObjIri(i)
      val c = collection(pos)
      if (c != null) return ObjCollection(c)
      val bp = blankNodePropertyList(pos)
      if (bp != null) return ObjBnpl(bp)
      val l = literal(pos)
      if (l != null) return ObjLiteral(l)
      null
    }

    /** '(' (ws? Object ws?)* ')' (lib.rs:661-677) */
    def collection(pos: Int): Collection = {
      if (pos >= n || in.charAt(pos) != '(') return null
      val items = Vector.newBuilder[CollectionItem]
      var cur = pos + 1
      var going = true
      while (going) {
        val w1 = optWs(cur)
        val o = obj(rp)
        if (o == null) going = false
        else {
          val w2 = optWs(rp)
          items += CollectionItem(w1, o, w2)
          cur = rp
        }
      }
      if (cur < n && in.charAt(cur) == ')') {
        rp = cur + 1
        Collection(items.result())
      } else null
    }

    /** '[' PredicateObjectList ws? ']' (lib.rs:523-533) */
    def blankNodePropertyList(pos: Int): BlankNodePropertyList = {
      if (pos >= n || in.charAt(pos) != '[') return null
      val pol = predicateObjectList(pos + 1)
      if (pol == null) return null
      val w = optWs(rp)
      val p3 = rp
      if (p3 < n && in.charAt(p3) == ']') {
        rp = p3 + 1
        BlankNodePropertyList(pol, w)
      } else null
    }

    // ---- literals (lib.rs:1036-1683) ---------------------------------------

    /** alt(RDFLiteral, Boolean, Numeric) (lib.rs:1048-1052) */
    def literal(pos: Int): Literal = {
      val r = rdfLiteral(pos)
      if (r != null) return LitRdf(r)
      if (startsWith(pos, "true")) { rp = pos + 4; return LitBoolean(true) }
      if (startsWith(pos, "false")) { rp = pos + 5; return LitBoolean(false) }
      val nl = numericLiteral(pos)
      if (nl != null) LitNumeric(nl) else null
    }

    /** TurtleString ( '@'langtag | '^^'IRI )? (lib.rs:1076-1107) */
    def rdfLiteral(pos: Int): RdfLiteralNode = {
      val s = turtleString(pos)
      if (s == null) return null
      val p1 = rp
      val tag = languageTag(p1)
      if (tag != null) return RdfLiteralNode(s, Some(tag), None)
      if (startsWith(p1, "^^")) {
        val i = iri(p1 + 2)
        if (i != null) return RdfLiteralNode(s, None, Some(i))
      }
      rp = p1
      RdfLiteralNode(s, None, None)
    }

    /** '@' alpha1 ('-' alphanum1)* (lib.rs:1110-1122); parts joined by '-'. */
    def languageTag(pos: Int): String = {
      if (pos >= n || in.charAt(pos) != '@') return null
      var i = pos + 1
      val start = i
      while (i < n && in.charAt(i) < 128 && Character.isLetter(in.charAt(i))) i += 1
      if (i == start) return null
      var cur = i
      var going = true
      while (going) {
        if (cur < n && in.charAt(cur) == '-') {
          var j = cur + 1
          val s2 = j
          while (j < n && in.charAt(j) < 128 &&
            Character.isLetterOrDigit(in.charAt(j))) j += 1
          if (j == s2) going = false else cur = j
        } else going = false
      }
      rp = cur
      in.substring(start, cur)
    }

    /** Long quote styles first (lib.rs:1516-1527). */
    def turtleString(pos: Int): TurtleString = {
      if (pos >= n) return null
      val c = in.charAt(pos)
      if (c == '"') {
        val l = stringInner(pos, "\"\"\"")
        if (l != null) return StringLongQuote(l)
        val q = stringInner(pos, "\"")
        if (q != null) return StringQuote(q)
        null
      } else if (c == '\'') {
        val l = stringInner(pos, "'''")
        if (l != null) return StringLongSingleQuote(l)
        val q = stringInner(pos, "'")
        if (q != null) return StringSingleQuote(q)
        null
      } else null
    }

    /** Generic quote scanner (lib.rs:1420-1462): first closing quote with an
      * even number of immediately-preceding backslashes; unterminated → null. */
    private def stringInner(pos: Int, q: String): String = {
      if (!startsWith(pos, q)) return null
      val ql = q.length
      val hay = pos + ql
      if (startsWith(hay, q)) { rp = hay + ql; return "" } // empty fast-path
      var from = hay
      while (true) {
        val i = in.indexOf(q, from)
        if (i < 0) return null // nom Incomplete
        var p = i
        while (p > hay && in.charAt(p - 1) == '\\') p -= 1
        if ((i - p) % 2 == 0) { rp = i + ql; return in.substring(hay, i) }
        from = i + 1
      }
      null // unreachable
    }

    /** alt(Double, Decimal, Integer) (lib.rs:1154-1158) */
    def numericLiteral(pos: Int): NumericLiteral = {
      val d = doubleLit(pos)
      if (d != null) return d
      val dec = decimalLit(pos)
      if (dec != null) return dec
      integerLit(pos)
    }

    @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

    /** Scan optional sign; returns next pos (sign presence via != pos). */
    @inline private def signEnd(pos: Int): Int =
      if (pos < n && (in.charAt(pos) == '+' || in.charAt(pos) == '-')) pos + 1
      else pos

    /** Scan 0+ digits; returns end pos. */
    @inline private def digitsEnd(pos: Int): Int = {
      var i = pos
      while (i < n && isDigit(in.charAt(i))) i += 1
      i
    }

    private def optStr(from: Int, until: Int): Option[String] =
      if (until > from) Some(in.substring(from, until)) else None

    /** [eE] sign? digit+ — on success rp is set and the three parts are in
      * expChar/expSign/expInt; returns true. (lib.rs:1345-1368) */
    private var expChar: String = _
    private var expSign: Option[String] = _
    private var expInt: String = _
    private def exponent(pos: Int): Boolean = {
      if (pos >= n) return false
      val c = in.charAt(pos)
      if (c != 'e' && c != 'E') return false
      val sEnd = signEnd(pos + 1)
      val dEnd = digitsEnd(sEnd)
      if (dEnd == sEnd) return false
      expChar = if (c == 'e') "e" else "E"
      expSign = optStr(pos + 1, sEnd)
      expInt = in.substring(sEnd, dEnd)
      rp = dEnd
      true
    }

    /** Three alternatives in reference order (lib.rs:1279-1342):
      * d+.d*exp | .d+exp | d*exp */
    def doubleLit(pos: Int): NumericLiteral = {
      val p0 = signEnd(pos)
      val sg = optStr(pos, p0)
      // alt 1: digit+ '.' digit* exp
      val intEnd = digitsEnd(p0)
      if (intEnd > p0 && intEnd < n && in.charAt(intEnd) == '.') {
        val frEnd = digitsEnd(intEnd + 1)
        if (exponent(frEnd))
          return DoubleLit(sg, Some(in.substring(p0, intEnd)), Some("."),
            optStr(intEnd + 1, frEnd), expChar, expSign, expInt)
      }
      // alt 2: '.' digit+ exp
      if (p0 < n && in.charAt(p0) == '.') {
        val frEnd = digitsEnd(p0 + 1)
        if (frEnd > p0 + 1 && exponent(frEnd))
          return DoubleLit(sg, None, Some("."),
            Some(in.substring(p0 + 1, frEnd)), expChar, expSign, expInt)
      }
      // alt 3: digit* exp
      if (exponent(intEnd))
        return DoubleLit(sg, optStr(p0, intEnd), None, None,
          expChar, expSign, expInt)
      null
    }

    /** sign? digit* '.' digit+ (lib.rs:1229-1241) */
    def decimalLit(pos: Int): NumericLiteral = {
      val p0 = signEnd(pos)
      val intEnd = digitsEnd(p0)
      if (intEnd < n && in.charAt(intEnd) == '.') {
        val frEnd = digitsEnd(intEnd + 1)
        if (frEnd > intEnd + 1) {
          rp = frEnd
          return DecimalLit(optStr(pos, p0), optStr(p0, intEnd),
            in.substring(intEnd + 1, frEnd))
        }
      }
      null
    }

    /** sign? digit+ (lib.rs:1181-1190) */
    def integerLit(pos: Int): NumericLiteral = {
      val p0 = signEnd(pos)
      val dEnd = digitsEnd(p0)
      if (dEnd == p0) return null
      rp = dEnd
      IntegerLit(optStr(pos, p0), in.substring(p0, dEnd))
    }
  }
}
