package graft.sqlbridge

import scala.collection.mutable

/** The one reader of user SQL: a token stream and the walks over it.
  *
  * All rewriting in the engine works on SQL text (like the reference,
  * which swaps table nodes in SQL strings — ankaflow/connections/
  * connection.py:259-288), but every rewrite reads it as this token
  * stream, so nothing inside a '...' literal, a quoted identifier or a
  * `--` comment is ever rewritten. A rewrite tokenizes its input once,
  * runs as `Vector[Tok] => Vector[Tok]` passes, and renders once. Text a
  * pass inserts is tokenized where it is spliced in; when that text ends
  * outside any literal or comment, its tokens are the ones a
  * whole-statement tokenize would give.
  */
object SqlText {

  sealed trait Tok { def text: String }
  final case class Str(text: String) extends Tok      // 'literal' (incl quotes)
  final case class QuotedId(text: String) extends Tok // "ident" or `ident`
  final case class Word(text: String) extends Tok     // identifier / keyword
  final case class Sym(text: String) extends Tok      // everything else

  /** Tokenize SQL preserving every character (concat of texts == input). */
  def tokenize(sql: String): Vector[Tok] = {
    val out = mutable.ArrayBuffer[Tok]()
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql(i)
      if (c == '\'') {
        val start = i
        i += 1
        var done = false
        while (i < n && !done) {
          if (sql(i) == '\'') {
            if (i + 1 < n && sql(i + 1) == '\'') i += 2 // escaped ''
            else { i += 1; done = true }
          } else i += 1
        }
        out += Str(sql.substring(start, i))
      } else if (c == '"' || c == '`') {
        val start = i
        i += 1
        while (i < n && sql(i) != c) i += 1
        if (i < n) i += 1
        out += QuotedId(sql.substring(start, i))
      } else if (c == '-' && i + 1 < n && sql(i + 1) == '-') {
        val start = i
        while (i < n && sql(i) != '\n') i += 1
        out += Sym(sql.substring(start, i))
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (sql(i).isLetterOrDigit || sql(i) == '_')) i += 1
        out += Word(sql.substring(start, i))
      } else {
        val start = i
        i += 1
        out += Sym(sql.substring(start, i))
      }
    }
    out.toVector
  }

  def render(toks: Seq[Tok]): String = toks.map(_.text).mkString

  /** Case-insensitive word check. */
  def isWord(t: Tok, w: String): Boolean = t match {
    case Word(x) => x.equalsIgnoreCase(w)
    case _ => false
  }

  /** Whitespace: one blank character, which tokenizes as its own Sym. */
  def isBlank(t: Tok): Boolean = t match {
    case Sym(s) => s.trim.isEmpty
    case _ => false
  }

  /** First index ≥ `from` that is not blank (`toks.length` if none). */
  def nextNonBlank(toks: Vector[Tok], from: Int): Int = {
    var j = from
    while (j < toks.length && isBlank(toks(j))) j += 1
    j
  }

  /** Last index ≤ `from` that is not blank (-1 if none). The scan stops
    * at the first non-blank: `lastIndexWhere` would walk from the end. */
  def prevNonBlank(toks: Vector[Tok], from: Int): Int = {
    var j = from
    while (j >= 0 && isBlank(toks(j))) j -= 1
    j
  }

  /** Index of the first token at paren depth 0, counted from `from`, for
    * which `p(index)` holds; -1 if none. Parens themselves are never
    * tested. */
  def topLevel(toks: Vector[Tok], from: Int = 0)(p: Int => Boolean): Int = {
    var depth = 0
    var i = from
    while (i < toks.length) {
      toks(i) match {
        case Sym("(") => depth += 1
        case Sym(")") => depth -= 1
        case _ => if (depth == 0 && p(i)) return i
      }
      i += 1
    }
    -1
  }

  /** `toks` rewritten left to right: where `at(i)` gives `(tokens, next)`,
    * the tokens from `i` up to `next` are replaced by `tokens`; elsewhere
    * token `i` stays. */
  def substitute(toks: Vector[Tok])(at: Int => Option[(Seq[Tok], Int)]): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < toks.length) at(i) match {
      case Some((replacement, next)) => out ++= replacement; i = next
      case None => out += toks(i); i += 1
    }
    out.result()
  }

  /** Find the matching close paren index in `toks`, given `open` at the
    * index of a "(" Sym. Returns index of the ")" Sym. */
  def matchParen(toks: Vector[Tok], open: Int): Int = {
    var depth = 0
    var i = open
    while (i < toks.length) {
      toks(i) match {
        case Sym("(") => depth += 1
        case Sym(")") =>
          depth -= 1
          if (depth == 0) return i
        case _ =>
      }
      i += 1
    }
    sys.error(s"unbalanced parens in SQL: ${render(toks)}")
  }

  /** Split the token range (exclusive of outer parens) at top-level
    * commas; each argument is trimmed of blanks. */
  def splitArgs(toks: Vector[Tok]): List[Vector[Tok]] =
    if (toks.isEmpty) Nil
    else topLevel(toks)(i => toks(i) == Sym(",")) match {
      case -1 => List(trimTok(toks))
      case comma =>
        val rest = toks.drop(comma + 1)
        trimTok(toks.take(comma)) :: (if (rest.isEmpty) List(Vector()) else splitArgs(rest))
    }

  /** `a` without its leading and trailing blanks. A slice that ends in a
    * `--` comment keeps a newline after it: the slice is spliced into
    * other text, which the comment would otherwise run on into. */
  def trimTok(a: Vector[Tok]): Vector[Tok] = {
    val t = a.slice(nextNonBlank(a, 0), prevNonBlank(a, a.length - 1) + 1)
    t.lastOption match {
      case Some(Sym(c)) if c.startsWith("--") => t :+ Sym("\n")
      case _ => t
    }
  }

  /** The value of a closed string literal token (`''` unescaped). */
  def literalValue(t: Tok): Option[String] = t match {
    case Str(s) if s.count(_ == '\'') % 2 == 0 =>
      Some(s.substring(1, s.length - 1).replace("''", "'"))
    case _ => None
  }

  /** The string literal token whose value is `value`. */
  def literal(value: String): Str = Str("'" + value.replace("'", "''") + "'")

  /** Strip the quotes off a quoted identifier. */
  def unquote(id: String): String =
    if (id.length >= 2 && (id.head == '"' || id.head == '`')) id.substring(1, id.length - 1)
    else id
}
