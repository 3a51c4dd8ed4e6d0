package graft.rdf

import graft.model.{Kind, Triple}

/** Line-oriented N-Triples / N-Quads parser (reference source formats,
  * chilon_rs `src/parse.rs:63-86`). N-Triples is newline-delimited, so a
  * file can be cut at any byte offset: [[RdfSource]] reads each range's lines
  * and maps them through [[parseLine]], with no per-file state. Quads project
  * to triples by dropping the graph term (`src/parse.rs:40-47`).
  *
  * RDF-star (`<< >>`) is rejected like the reference
  * (`src/prefixes.rs:394-396`). Grammar follows the W3C N-Triples spec
  * (IRIREF, BLANK_NODE_LABEL, STRING_LITERAL_QUOTE with ECHAR/UCHAR).
  */
object NTriples {

  final case class ParseError(line: String, msg: String)
      extends Exception(s"$msg in: $line")

  /** Parse one line; None for blank lines and comments. */
  def parseLine(line: String, srcUrl: String = ""): Option[Triple] = {
    val s = line.trim
    if (s.isEmpty || s.startsWith("#")) return None
    val p = new Parser(s)
    p.ws()
    val (subj, subjKind) = p.subject()
    p.ws()
    val pred = p.iriRef()
    p.ws()
    val (obj, objKind, lang, dt) = p.obj()
    p.ws()
    p.optionalGraphTerm() // N-Quads: ignore
    p.ws()
    p.expect('.')
    Some(Triple(subj, subjKind, pred, obj, objKind, lang, dt, srcUrl))
  }

  /** Iterator over many lines (for mapPartitions use). */
  def parseLines(lines: Iterator[String], srcUrl: String = ""): Iterator[Triple] =
    lines.flatMap(l => parseLine(l, srcUrl))

  private final class Parser(s: String) {
    var i = 0
    def ws(): Unit = while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t')) i += 1
    def expect(c: Char): Unit = {
      if (i >= s.length || s.charAt(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def fail(msg: String): Nothing = throw ParseError(s, s"$msg at pos $i")

    def subject(): (String, Byte) = {
      if (i < s.length && s.charAt(i) == '<') {
        if (s.startsWith("<<", i)) fail("RDF-star subjects are not supported")
        (iriRef(), Kind.IRI)
      } else if (s.startsWith("_:", i)) (blankLabel(), Kind.BLANK)
      else fail("expected IRI or blank node subject")
    }

    /** An IRIREF's text: a slice of the line when it holds no escape. */
    def iriRef(): String = {
      expect('<')
      val start = i
      while (i < s.length && s.charAt(i) != '>' && s.charAt(i) != '\\') {
        checkIriChar(s.charAt(i))
        i += 1
      }
      if (i < s.length && s.charAt(i) == '\\') {
        val sb = new java.lang.StringBuilder(i - start + 16).append(s, start, i)
        while (i < s.length && s.charAt(i) != '>') {
          val c = s.charAt(i)
          checkIriChar(c)
          if (c == '\\') sb.append(uchar()) else { sb.append(c); i += 1 }
        }
        expect('>')
        sb.toString
      } else {
        val end = i
        expect('>')
        s.substring(start, end)
      }
    }

    // IRIREF excludes control/space and <"{}|^` (W3C N-Triples [8]; only
    // \u/\U escapes can reach them)
    private def checkIriChar(c: Char): Unit =
      if (c <= ' ' || c == '<' || c == '"' || c == '{' || c == '}' || c == '|' || c == '^' ||
          c == '`') fail(s"character '$c' in IRIREF")

    def blankLabel(): String = {
      i += 2 // "_:"
      val start = i
      while (i < s.length && !s.charAt(i).isWhitespace) i += 1
      s.substring(start, i)
    }

    def obj(): (String, Byte, Option[String], Option[String]) = {
      if (i >= s.length) fail("missing object")
      s.charAt(i) match {
        case '<' =>
          if (s.startsWith("<<", i)) fail("RDF-star objects are not supported")
          (iriRef(), Kind.IRI, None, None)
        case '_' => (blankLabel(), Kind.BLANK, None, None)
        case '"' =>
          val lex = stringLiteral()
          if (s.startsWith("^^", i)) {
            i += 2
            val dt = iriRef()
            (lex, Kind.LIT_TYPED, None, Some(dt))
          } else if (i < s.length && s.charAt(i) == '@') {
            i += 1
            val start = i
            // LANGTAG = [a-zA-Z]+ ('-' [a-zA-Z0-9]+)* — leading letter required
            if (i >= s.length || !s.charAt(i).isLetter) fail("language tag must start with a letter")
            while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '-')) i += 1
            (lex, Kind.LIT_LANG, Some(s.substring(start, i)), None)
          } else (lex, Kind.LIT_PLAIN, None, None)
        case _ => fail("expected IRI, blank node or literal object")
      }
    }

    /** A literal's lexical form: a slice of the line when it holds no escape. */
    def stringLiteral(): String = {
      expect('"')
      val start = i
      while (i < s.length && s.charAt(i) != '"' && s.charAt(i) != '\\') i += 1
      if (i < s.length && s.charAt(i) == '\\') {
        val sb = new java.lang.StringBuilder(i - start + 16).append(s, start, i)
        while (i < s.length && s.charAt(i) != '"') {
          val c = s.charAt(i)
          if (c == '\\') sb.append(echar()) else { sb.append(c); i += 1 }
        }
        expect('"')
        sb.toString
      } else {
        val end = i
        expect('"')
        s.substring(start, end)
      }
    }

    private def echar(): String = {
      // at backslash
      i += 1
      if (i >= s.length) fail("dangling escape")
      val c = s.charAt(i)
      c match {
        case 't'  => i += 1; "\t"
        case 'b'  => i += 1; "\b"
        case 'n'  => i += 1; "\n"
        case 'r'  => i += 1; "\r"
        case 'f'  => i += 1; "\f"
        case '"'  => i += 1; "\""
        case '\'' => i += 1; "'"
        case '\\' => i += 1; "\\"
        case 'u'  => i -= 1; uchar()
        case 'U'  => i -= 1; uchar()
        case _    => fail(s"bad escape \\$c")
      }
    }

    private def uchar(): String = {
      // at backslash of \ uXXXX or \ UXXXXXXXX
      i += 1
      val kind = s.charAt(i)
      val len = if (kind == 'u') 4 else if (kind == 'U') 8 else fail("bad IRI escape")
      i += 1
      val hex = s.substring(i, math.min(i + len, s.length))
      if (hex.length < len) fail("truncated unicode escape")
      i += len
      new String(Character.toChars(Integer.parseInt(hex, 16)))
    }

    def optionalGraphTerm(): Unit = {
      if (i < s.length && s.charAt(i) == '<') { iriRef(); () }
      else if (s.startsWith("_:", i)) { blankLabel(); () }
    }
  }
}
