package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SiteSpec extends AnyFunSuite {
  private val a = Site.generate(7)

  test("the same seed generates the same site") {
    val b = Site.generate(7)
    assert(a.pages === b.pages)
    assert(a.villages === b.villages)
    assert(a.houses === b.houses)
  }

  test("another seed generates another site of the same size") {
    val c = Site.generate(8)
    assert(c.pages !== a.pages)
    assert(c.villages.size === a.villages.size)
    assert(c.houses.size === a.houses.size)
  }

  test("urls are unique and every crawlable link leads to a page of the site") {
    val urls = a.pages.map(_._1)
    assert(urls.distinct.size === urls.size)
    val href = "href=\"([^\"]+)\"".r
    val crawlable = "^https://sh\\.lianjia\\.com/(xiaoqu/\\d+/|(ershoufang|chengjiao)/\\d+\\.html)$".r
    val links = a.pages.flatMap(p => href.findAllMatchIn(p._2).map(_.group(1)))
      .filter(l => crawlable.findFirstIn(l).isDefined)
    assert(links.nonEmpty)
    assert(links.toSet.subsetOf(urls.toSet))
    assert(a.houses.forall(h => urls.contains(Site.houseUrl(h))))
  }

  test("listings paginate, some are empty, and about a third of house pages are tag soup") {
    assert(a.pages.exists(_._1.matches(".*/ershoufang/c\\d+pg2$")))
    assert(a.pages.exists(_._2.contains("data-total-count=\"0\"")))
    val soup = a.houses.count(_.soup).toDouble / a.houses.size
    assert(soup > 0.25 && soup < 0.42)
  }
}
