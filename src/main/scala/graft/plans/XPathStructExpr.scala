package graft.plans

import javax.xml.xpath.{XPathConstants, XPathExpression, XPathExpressionException, XPathFactory}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.lianjia.HtmlSoup

/** Multi-field XPath extraction with ONE parse per page (SURVEY §2.11:
  * "one parse per page, not per field — the single most important perf
  * decision vs. naive per-field parsing").
  *
  * `xpath_string(html, p)` re-parses the document for every field — a
  * 23-field page record (lianjia.py:131-153) costs 23 parses. This
  * expression parses once, with the one page parser `HtmlSoup.parse`
  * (well-formed or tag soup, every page gets the same tree), and reads
  * all fields from the same DOM, returning STRUCT<field: STRING, ...>
  * with the trimmed string-value of each field and null for misses (the
  * reference's extract_first() → None, F4).
  *
  * Each field path is compiled once, by its shape: a path in
  * `XPathWalk`'s subset (`//` then child steps with at most one
  * `[@a='v']`, `[n]` or `[c='v']` predicate each, ending in `/text()` or
  * `/@name` — every path of `Pipeline` and q136) is read from one
  * pre-order walk of the page that serves all such fields; any other
  * path (`Css.toXPath` output, other axes, functions, absolute paths) is
  * evaluated by JAXP as `XPathConstants.STRING`, which the walk equals on
  * its subset. A JAXP evaluation error is a miss (null); any other
  * exception fails the task.
  *
  * The walker and the JAXP expressions are per-task (expressions are
  * deserialized per task), created lazily off the transient fields — no
  * cross-thread sharing. CodegenFallback: codegen would only inline the
  * call to the parse and the walk.
  */
case class XPathStructExpr(child: Expression, fields: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    StructType(fields.map { case (name, _) => StructField(name, StringType) })

  @transient private lazy val walked: Seq[Option[XPathWalk.Path]] =
    fields.map { case (_, path) => XPathWalk.compile(path) }

  @transient private lazy val walk = new XPathWalk.Reader(walked)

  /** JAXP expressions of the fields outside the walk's subset (null for
    * the walked ones). */
  @transient private lazy val jaxp: Array[XPathExpression] = {
    val xp = XPathFactory.newInstance().newXPath()
    fields.zip(walked).map {
      case ((_, path), None) => xp.compile(path)
      case (_, Some(_)) => null
    }.toArray
  }

  override def nullSafeEval(input: Any): Any = {
    val html = input.asInstanceOf[UTF8String].toString
    val doc = HtmlSoup.parse(html)
    val walkedValues = walk.read(doc)
    val values = new Array[Any](fields.length)
    var i = 0
    while (i < values.length) {
      val s =
        if (jaxp(i) == null) walkedValues(i)
        else try jaxp(i).evaluate(doc, XPathConstants.STRING).asInstanceOf[String]
        catch { case _: XPathExpressionException => null }
      val t = if (s == null) "" else s.trim
      values(i) = if (t.isEmpty) null else UTF8String.fromString(t)
      i += 1
    }
    new GenericInternalRow(values)
  }

  override protected def withNewChildInternal(newChild: Expression): XPathStructExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_xpath_struct"
}

object XPathStructExpr {
  /** STRUCT column of all extracted fields; select `result.fieldName`. */
  def xpathStruct(html: Column, fields: Seq[(String, String)]): Column =
    ColumnBridge.column(XPathStructExpr(ColumnBridge.expression(html), fields))

  /** ARRAY<STRING> of the string-values of ALL nodes an XPath matches —
    * the reference's `extract()` (vs `extract_first()`) surface. Same
    * one `HtmlSoup.parse` per page as the struct form. */
  def xpathAll(html: Column, xpath: String): Column =
    ColumnBridge.column(XPathArrayExpr(ColumnBridge.expression(html), xpath))
}

/** ARRAY<STRING> companion of XPathStructExpr: evaluates one XPath as a
  * NODESET and returns every matched node's trimmed string-value (the
  * reference's `extract()` list semantics, lianjia.py:32,48,109). Misses
  * → empty array. One `HtmlSoup.parse` per page, as in the struct form. */
case class XPathArrayExpr(child: Expression, xpath: String)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType)

  @transient private lazy val compiled: XPathExpression =
    XPathFactory.newInstance().newXPath().compile(xpath)

  override def nullSafeEval(input: Any): Any = {
    val html = input.asInstanceOf[UTF8String].toString
    val nodes =
      try compiled.evaluate(HtmlSoup.parse(html), XPathConstants.NODESET)
        .asInstanceOf[org.w3c.dom.NodeList]
      catch { case _: XPathExpressionException => null }
    if (nodes == null)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    else {
      val vals = new Array[Any](nodes.getLength)
      var i = 0
      while (i < vals.length) {
        val s = nodes.item(i).getTextContent
        vals(i) = UTF8String.fromString(if (s == null) "" else s.trim)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): XPathArrayExpr =
    copy(child = newChild)

  override def prettyName: String = "graft_xpath_all"
}
