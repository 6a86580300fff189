package graft.lianjia

import java.util.Locale
import javax.xml.parsers.DocumentBuilderFactory

import scala.collection.mutable

import org.w3c.dom.{Document, Element, Node}

/** The page parser: HTML (well-formed or tag soup) → the DOM every XPath
  * field reads (SURVEY §2.2 P1/P2 parity: the reference's parsel/lxml
  * tolerates broken real-world markup — house_spider/spiders/
  * lianjia.py:77-88,131-153 run against live pages with unclosed <li>,
  * bare &, void tags, HTML entities). One scan builds the tree directly,
  * no dependencies (the build is offline), deterministic output. No XML
  * parser ever reads page text, so DOCTYPE/entity tricks (XXE) have
  * nothing to act on.
  *
  * Repairs:
  *  - void tags (<br>, <img …>) → childless elements
  *  - unclosed container tags → closed at the HTML implicit-close
  *    boundaries (<li> closes the previous <li>, <p> a <p>, <td>/<tr>
  *    table cells, <option>, <dt>/<dd>) and at end of input
  *  - stray close tags (</div> with no open <div>) → dropped
  *  - bare '&' and stray '<'/'>' → literal text
  *  - entities: the 5 XML ones, numeric references and common HTML
  *    named ones (&nbsp; …) decoded; unknown names stay literal "&name;"
  *  - <script>/<style> bodies → text up to the matching close tag (they
  *    may contain '<')
  *  - DOCTYPE and processing instructions → dropped; CDATA → its
  *    literal content as text
  *  - attributes: unquoted and bare ones accepted (checked →
  *    checked="checked"; an unquoted value ends only at whitespace or
  *    '>'), duplicates dropped (first wins), malformed names dropped
  *
  * The tree rule — every page, well-formed or not, gets the same tree:
  *  - names: element and attribute names are lowercased (HTML's rule,
  *    and lxml's);
  *  - comments are kept as comment nodes, so `text()` splits at a
  *    comment;
  *  - document element: when the top level holds exactly one element
  *    and no non-whitespace text, that element is the document element
  *    (absolute paths like /html/body/h1 work); only multi-rooted soup
  *    is wrapped in a synthetic <root>;
  *  - a numeric reference to a code point XML cannot hold (&#0;,
  *    &#x110000;) stays literal text, like an unknown named entity;
  *  - normalization as an XML parser applies it: CRLF and lone CR → LF,
  *    and in attribute values each literal tab/CR/LF → a space (CRLF →
  *    one space); characters decoded from references are kept as they
  *    are; control characters illegal in XML 1.0 are stripped;
  *  - adjacent text, including decoded entities and CDATA content,
  *    forms one text node.
  * On a well-formed page every path reads this tree as it reads a
  * strict XML parse's, processing instructions aside (HtmlSoupSpec's
  * differential case checks every fixture page).
  */
object HtmlSoup {

  private val Void = Set("area", "base", "br", "col", "embed", "hr", "img",
    "input", "link", "meta", "param", "source", "track", "wbr")

  /** opening `key` implicitly closes any of `values` currently on top of
    * the stack — the HTML5 "a new li ends the previous li" rules for the
    * structures the extraction XPaths rely on. */
  private val ImplicitClose: Map[String, Set[String]] = Map(
    "li" -> Set("li"),
    "p" -> Set("p"),
    "td" -> Set("td", "th"),
    "th" -> Set("td", "th"),
    "tr" -> Set("tr", "td", "th"),
    "option" -> Set("option"),
    "dt" -> Set("dd", "dt"),
    "dd" -> Set("dd", "dt"))

  /** Common HTML named entities → literal characters. */
  private val NamedEntities = Map(
    "nbsp" -> " ", "middot" -> "·", "copy" -> "©",
    "reg" -> "®", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "ldquo" -> "“", "rdquo" -> "”",
    "lsquo" -> "‘", "rsquo" -> "’", "laquo" -> "«",
    "raquo" -> "»", "times" -> "×", "yen" -> "¥",
    "deg" -> "°", "plusmn" -> "±", "sup2" -> "²",
    "frac12" -> "½", "iquest" -> "¿")

  private val XmlEntities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'")

  /** Builds empty documents; stateless, so one serves every thread. */
  private val Dom = DocumentBuilderFactory.newInstance().newDocumentBuilder().getDOMImplementation

  private def isNameStart(c: Char) = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isNameChar(c: Char) =
    isNameStart(c) || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
  private def isDigit(c: Char) = c >= '0' && c <= '9'
  private def isHexDigit(c: Char) =
    isDigit(c) || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  private def legalXmlChar(c: Char) =
    c == '\t' || c == '\n' || c == '\r' || (c >= ' ' && c != '￾' && c != '￿')
  private def legalXmlCodePoint(cp: Int) =
    cp == 0x9 || cp == 0xA || cp == 0xD || (cp >= 0x20 && cp <= 0xD7FF) ||
      (cp >= 0xE000 && cp <= 0xFFFD) || (cp >= 0x10000 && cp <= 0x10FFFF)
  private def isXmlSpace(c: Char) = c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** How a run of page characters becomes DOM text. */
  private sealed trait Mode
  private case object Text extends Mode // text content: entities decoded
  private case object Attr extends Mode // plus literal tab/CR/LF → space
  private case object Raw extends Mode // comments, CDATA: no entities

  def parse(html: String): Document = new Scan(html).run()

  private final class Scan(html: String) {
    private val n = html.length
    private val doc = Dom.createDocument(null, null, null)
    /** holds the top level until [[run]] knows whether it needs a <root> */
    private val top = doc.createElement("root")
    private val open = mutable.ArrayBuffer[Element]()
    private val text = new java.lang.StringBuilder

    private def parent: Node = if (open.isEmpty) top else open.last

    private def flushText(): Unit =
      if (text.length > 0) {
        parent.appendChild(doc.createTextNode(text.toString))
        text.setLength(0)
      }

    private def append(node: Node): Unit = { flushText(); parent.appendChild(node) }

    private def popOpen(): Unit = { flushText(); open.remove(open.length - 1) }

    /** Appends html[from, until) to `out` under `mode`'s rules. */
    private def decode(from: Int, until: Int, mode: Mode,
        out: java.lang.StringBuilder): Unit = {
      var i = from
      while (i < until) {
        val c = html.charAt(i)
        if (c == '&' && mode != Raw) i = entity(i, until, out)
        else {
          if (c == '\r') {
            // CRLF → LF, lone CR → LF
            if (!(i + 1 < until && html.charAt(i + 1) == '\n'))
              out.append(if (mode == Attr) ' ' else '\n')
          } else if (mode == Attr && (c == '\t' || c == '\n')) out.append(' ')
          else if (legalXmlChar(c)) out.append(c) // else: strip control chars
          i += 1
        }
      }
    }

    /** `&…;` at `i`: appends its decoding (or a literal '&') and returns
      * the index after what it consumed. */
    private def entity(i: Int, until: Int, out: java.lang.StringBuilder): Int = {
      val semi = html.indexOf(';', i + 1)
      if (semi < 0 || semi >= until || semi - i > 10) { out.append('&'); return i + 1 }
      val body = html.substring(i + 1, semi)
      val numeric =
        if (body.length > 1 && body.charAt(0) == '#' && body.drop(1).forall(isDigit))
          Some(Integer.parseInt(body.substring(1)))
        else if (body.length > 2 && body.charAt(0) == '#' &&
            (body.charAt(1) == 'x' || body.charAt(1) == 'X') &&
            body.drop(2).forall(isHexDigit))
          Some(Integer.parseInt(body.substring(2), 16))
        else None
      numeric match {
        case Some(cp) =>
          // a code point XML cannot hold stays literal text
          if (legalXmlCodePoint(cp)) out.appendCodePoint(cp) else out.append(html, i, semi + 1)
          semi + 1
        case None =>
          XmlEntities.get(body).orElse(NamedEntities.get(body.toLowerCase(Locale.ROOT))) match {
            case Some(lit) => out.append(lit); semi + 1
            case None => out.append('&'); i + 1
          }
      }
    }

    /** Reads the attributes of an open tag from `i0` (just after its
      * name) onto `el`; returns (index after the tag, self-closed). */
    private def attrs(i0: Int, el: Element): (Int, Boolean) = {
      var i = i0
      var selfClosed = false
      var done = false
      while (!done && i < n) {
        val c = html.charAt(i)
        if (c == '>') { i += 1; done = true }
        else if (c == '/' && i + 1 < n && html.charAt(i + 1) == '>') {
          selfClosed = true; i += 2; done = true
        } else if (c.isWhitespace || c == '/') i += 1
        else {
          val ns = i
          while (i < n && !html.charAt(i).isWhitespace &&
            html.charAt(i) != '=' && html.charAt(i) != '>' && html.charAt(i) != '/') i += 1
          val name = html.substring(ns, i).toLowerCase(Locale.ROOT)
          var vs = -1 // value bounds, when there is a value
          var ve = -1
          var j = i
          while (j < n && html.charAt(j).isWhitespace) j += 1
          if (j < n && html.charAt(j) == '=') {
            j += 1
            while (j < n && html.charAt(j).isWhitespace) j += 1
            if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
              val q = html.charAt(j)
              vs = j + 1
              ve = vs
              while (ve < n && html.charAt(ve) != q) ve += 1
              i = math.min(n, ve + 1)
            } else {
              vs = j
              ve = vs
              // unquoted: ends only at whitespace or '>', so a '/' stays in
              // the value (`href=/xiaoqu/42/`), as in HTML and lxml
              while (ve < n && !html.charAt(ve).isWhitespace && html.charAt(ve) != '>') ve += 1
              i = ve
            }
          }
          val valid = name.nonEmpty && isNameStart(name.charAt(0)) &&
            name.forall(ch => isNameChar(ch) || ch == '.')
          if (valid && !el.hasAttribute(name)) {
            val value =
              if (vs < 0) name // bare flag → checked="checked"
              else { val sb = new java.lang.StringBuilder; decode(vs, ve, Attr, sb); sb.toString }
            el.setAttribute(name, value)
          }
        }
      }
      (i, selfClosed)
    }

    private def closeTag(name: String): Unit =
      if (!Void(name) && open.exists(_.getTagName == name)) {
        while (open.last.getTagName != name) popOpen()
        popOpen()
      } // else: stray close → drop

    /** Index of the `</name` that ends a <script>/<style> body, or -1. */
    private def rawEnd(from: Int, name: String): Int = {
      var k = html.indexOf("</", from)
      while (k >= 0 && !html.regionMatches(true, k + 2, name, 0, name.length))
        k = html.indexOf("</", k + 2)
      k
    }

    def run(): Document = {
      var i = 0
      while (i < n) {
        val c = html.charAt(i)
        if (c != '<') {
          var j = i
          while (j < n && html.charAt(j) != '<') j += 1
          decode(i, j, Text, text)
          i = j
        } else if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          val end = if (e < 0) n else e
          val data = new java.lang.StringBuilder
          decode(i + 4, end, Raw, data)
          append(doc.createComment(data.toString))
          i = if (e < 0) n else e + 3
        } else if (html.startsWith("<![CDATA[", i)) {
          val e = html.indexOf("]]>", i + 9)
          decode(i + 9, if (e < 0) n else e, Raw, text)
          i = if (e < 0) n else e + 3
        } else if (html.startsWith("<!", i) || html.startsWith("<?", i)) {
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else if (html.startsWith("</", i) && i + 2 < n && isNameStart(html.charAt(i + 2))) {
          var j = i + 2
          while (j < n && isNameChar(html.charAt(j))) j += 1
          closeTag(html.substring(i + 2, j).toLowerCase(Locale.ROOT))
          val gt = html.indexOf('>', j)
          i = if (gt < 0) n else gt + 1
        } else if (i + 1 < n && isNameStart(html.charAt(i + 1))) {
          var j = i + 1
          while (j < n && isNameChar(html.charAt(j))) j += 1
          val name = html.substring(i + 1, j).toLowerCase(Locale.ROOT)
          ImplicitClose.get(name).foreach { closers =>
            while (open.nonEmpty && closers(open.last.getTagName)) popOpen()
          }
          val el = doc.createElement(name)
          val (after, selfClosed) = attrs(j, el)
          append(el)
          i = after
          if (!selfClosed && !Void(name)) {
            open += el
            if (name == "script" || name == "style") {
              val close = rawEnd(i, name)
              decode(i, if (close < 0) n else close, Text, text)
              closeTag(name)
              val gt = if (close < 0) -1 else html.indexOf('>', close)
              i = if (gt < 0) n else gt + 1
            }
          }
        } else {
          text.append('<') // lone '<'
          i += 1
        }
      }
      while (open.nonEmpty) popOpen()
      flushText()
      finish()
    }

    /** One top-level element and only whitespace text beside it: that
      * element becomes the document element (top-level comments stay
      * document children). Otherwise the synthetic <root> is. */
    private def finish(): Document = {
      val kids = (0 until top.getChildNodes.getLength).map(top.getChildNodes.item)
      def isText(k: Node) = k.getNodeType == Node.TEXT_NODE
      if (kids.count(_.getNodeType == Node.ELEMENT_NODE) == 1 &&
          kids.forall(k => !isText(k) || k.getNodeValue.forall(isXmlSpace)))
        kids.filterNot(isText).foreach(doc.appendChild)
      else doc.appendChild(top)
      doc
    }
  }
}
