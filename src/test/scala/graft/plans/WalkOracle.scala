package graft.plans

import javax.xml.xpath.XPathFactory

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.unsafe.types.UTF8String

import graft.lianjia.HtmlSoup

/** The two readings of a page that must agree on XPathWalk's subset. */
object WalkOracle {

  /** Each of `paths` read from `page` by XPathStructExpr (one parse, one
    * walk for the paths in the subset). */
  def viaExpr(page: String, paths: Seq[String]): Seq[Option[String]] = {
    val expr = XPathStructExpr(Literal(""), paths.indices.map(i => s"f$i" -> paths(i)))
    val row = expr.nullSafeEval(UTF8String.fromString(page)).asInstanceOf[InternalRow]
    paths.indices.map(i => Option(row.getUTF8String(i)).map(_.toString))
  }

  /** Each of `paths` read from the same tree by JAXP: `XPathConstants.STRING`,
    * trimmed, NULL when empty. */
  def viaJaxp(page: String, paths: Seq[String]): Seq[Option[String]] = {
    val doc = HtmlSoup.parse(page)
    val xp = XPathFactory.newInstance().newXPath()
    paths.map(p => Option(xp.evaluate(p, doc).trim).filter(_.nonEmpty))
  }
}
