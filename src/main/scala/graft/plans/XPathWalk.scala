package graft.plans

import org.w3c.dom.{Element, Node}

/** The extraction paths `XPathStructExpr` reads without JAXP: every field
  * of a page in one pre-order walk of its `HtmlSoup.parse` tree.
  *
  * The subset, `//` step (`/` step)* ending in `/text()` or `/@name`. A
  * step is a lowercase element name with at most one predicate:
  *  - `[@a='v']`: the attribute is present with exactly this value;
  *  - `[n]`: the n-th child of that name under its parent;
  *  - `[c='v']`: some child element `c` has string-value `v` (all
  *    descendant text, without comments).
  * Anything else — `*`, `//` after the first step, other axes,
  * functions, absolute paths, unions, whitespace, double quotes, or a
  * quote or `/` inside a value — does not compile here and stays JAXP's.
  *
  * A field's value is what JAXP's `XPathConstants.STRING` gives over the
  * same tree: the string-value of the first selected node in document
  * order, across all matches of the first step (matches may nest), or
  * null when nothing is selected. `text()` selects text-node children,
  * and `HtmlSoup` makes each run of text one node, so a comment splits
  * it. The pre-order walk meets nodes in document order, so a field is
  * settled by the first selected node it meets: a text node whose parent
  * matches the path, or an element that matches it and carries the
  * attribute (an element's attributes precede its children). A path
  * matches an element bottom-up — the last step on the element, each
  * earlier step on the next ancestor. Names are tested as JAXP tests
  * them on this namespace-unaware tree: by what follows a name's first
  * ':'. The walk stops once every field is settled, and raises nothing.
  */
private[graft] object XPathWalk {

  private sealed trait Pred
  private final case class AttrIs(attr: String, value: String) extends Pred
  private final case class Nth(n: Int) extends Pred
  private final case class ChildIs(child: String, value: String) extends Pred

  private final case class Step(name: String, pred: Option[Pred])

  /** A compiled path: its steps, last first, and the attribute it reads
    * (null: it reads `text()`). */
  final class Path private[XPathWalk] (private[XPathWalk] val steps: Array[Step],
      private[XPathWalk] val attr: String)

  private val Name = "[a-z][a-z0-9_-]*"
  private val Value = "'([^'\"/]*)'"
  private val StepRe = s"($Name)(?:\\[(?:@($Name)=$Value|([1-9][0-9]{0,5})|($Name)=$Value)\\])?".r
  private val AttrTail = s"@($Name)".r

  /** The path in the subset, or None: JAXP evaluates it. */
  def compile(path: String): Option[Path] =
    if (!path.startsWith("//")) None
    else {
      val parts = path.substring(2).split("/", -1)
      if (parts.length < 2) None
      else {
        val attr = parts.last match {
          case "text()" => Some(null)
          case AttrTail(a) => Some(a)
          case _ => None
        }
        val steps = parts.init.toSeq.map {
          case StepRe(name, null, _, null, null, _) => Some(Step(name, None))
          case StepRe(name, a, v, null, null, _) => Some(Step(name, Some(AttrIs(a, v))))
          case StepRe(name, null, _, n, null, _) => Some(Step(name, Some(Nth(n.toInt))))
          case StepRe(name, null, _, null, c, v) => Some(Step(name, Some(ChildIs(c, v))))
          case _ => None
        }
        for (a <- attr if steps.forall(_.isDefined))
          yield new Path(steps.flatten.reverse.toArray, a)
      }
    }

  /** The name a name test compares with. JAXP reads `HtmlSoup`'s
    * namespace-unaware tree by the part of a name after its first ':',
    * so `//p` selects `<o:p>` and `@lang` reads `xml:lang`. */
  private def local(name: String): String = {
    val c = name.indexOf(':')
    if (c < 0) name else name.substring(c + 1)
  }

  /** The value of the first attribute of `e`, in the DOM's attribute
    * order, that `@a` selects and that `accept`s it, or null. `xmlns`
    * and `xmlns:*` are namespace declarations, not attributes, to JAXP. */
  private def attr(e: Element, a: String, accept: String => Boolean): String = {
    val as = e.getAttributes
    var i = 0
    while (i < as.getLength) {
      val n = as.item(i).getNodeName
      if (n != "xmlns" && !n.startsWith("xmlns:") && local(n) == a &&
          accept(as.item(i).getNodeValue)) return as.item(i).getNodeValue
      i += 1
    }
    null
  }

  private def isElement(n: Node, name: String) =
    n.getNodeType == Node.ELEMENT_NODE && local(n.getNodeName) == name

  private def holds(pred: Pred, e: Element, name: String): Boolean = pred match {
    case AttrIs(a, v) => attr(e, a, _ == v) != null
    case Nth(n) =>
      var k = 1
      var s = e.getPreviousSibling
      while (s != null && k <= n) {
        if (isElement(s, name)) k += 1
        s = s.getPreviousSibling
      }
      k == n
    case ChildIs(c, v) =>
      var s = e.getFirstChild
      var found = false
      while (s != null && !found) {
        found = isElement(s, c) && s.getTextContent == v
        s = s.getNextSibling
      }
      found
  }

  /** Whether `p`'s steps select `e`: the last step on `e`, each earlier
    * one on the next ancestor. */
  private def selects(p: Path, e: Element): Boolean = {
    var node: Node = e
    var i = 0
    while (i < p.steps.length) {
      val step = p.steps(i)
      if (node == null || !isElement(node, step.name) ||
          step.pred.exists(!holds(_, node.asInstanceOf[Element], step.name))) return false
      node = node.getParentNode
      i += 1
    }
    true
  }

  /** Reads `paths` (None: not walked, left null) from one walk of `doc`;
    * each entry is the raw string-value of the path's first selected
    * node, or null when it selects none. */
  final class Reader(paths: Seq[Option[Path]]) {
    private val compiled = paths.toArray

    /** path indices by last-step name, for text() and @attr paths */
    private def byLastStep(text: Boolean): Map[String, Array[Int]] =
      compiled.indices
        .filter(i => compiled(i).exists(p => (p.attr == null) == text))
        .groupBy(i => compiled(i).get.steps(0).name)
        .map { case (name, is) => name -> is.toArray }
    private val textPaths = byLastStep(text = true)
    private val attrPaths = byLastStep(text = false)
    private val walked = compiled.count(_.isDefined)

    def read(doc: Node): Array[String] = {
      val out = new Array[String](compiled.length)
      var open = walked
      /** settles each open path of `is` that selects `e`: with `text`, or
        * with its attribute of `e` when it reads one */
      def settle(is: Array[Int], e: Element, text: String): Unit = {
        var k = 0
        while (k < is.length) {
          val i = is(k)
          val p = compiled(i).get
          if (out(i) == null && selects(p, e)) {
            val v = if (p.attr == null) text else attr(e, p.attr, _ => true)
            if (v != null) { out(i) = v; open -= 1 }
          }
          k += 1
        }
      }
      var node = if (open == 0) null else doc.getFirstChild
      while (node != null && open > 0) {
        node.getNodeType match {
          case Node.ELEMENT_NODE =>
            val e = node.asInstanceOf[Element]
            attrPaths.get(local(e.getNodeName)).foreach(settle(_, e, null))
          case Node.TEXT_NODE =>
            node.getParentNode match {
              case p: Element => textPaths.get(local(p.getNodeName)).foreach(settle(_, p, node.getNodeValue))
              case _ =>
            }
          case _ =>
        }
        // next node in pre-order: first child, else the next sibling of
        // the nearest node (itself or an ancestor) that has one
        val first = node.getFirstChild
        if (first != null) node = first
        else {
          while (node != null && node.getNextSibling == null) {
            node = node.getParentNode
            if (node eq doc) node = null
          }
          if (node != null) node = node.getNextSibling
        }
      }
      out
    }
  }
}
