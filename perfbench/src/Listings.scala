package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** One seeded listing universe, rendered as a sitemap index plus one HTML
  * page per listing (the scrape input). Price follows living area and
  * bedrooms, as in real listings.
  */
final case class Listing(
    id: Long, kind: String, subtype: String, locality: String, postal: String,
    street: String, number: String, lat: Double, lon: Double,
    bedrooms: Int, livingArea: Double, price: Double,
    fireplace: Boolean, pool: Boolean, terrace: Option[Double],
    garden: Option[Double], land: Option[Double], kitchen: String,
    facades: Option[Int], condition: String, built: Option[Int],
    epcScore: Option[String], kwh: Option[Double]) {

  def url: String =
    s"https://www.immoweb.be/en/classified/${kind.toLowerCase}/for-sale/" +
      s"${locality.toLowerCase}/$postal/$id"

  /** The scraper's validation rule: a page with neither an EPC score nor an
    * energy figure is rejected (the link ends as `error`). */
  def valid: Boolean = epcScore.nonEmpty || kwh.nonEmpty
}

object Listings {
  // (locality, postal code, latitude, longitude) — Belgian towns spread over
  // every province the preprocessing maps.
  private val Towns: Seq[(String, String, Double, Double)] = Seq(
    ("Brussel", "1000", 50.85, 4.35), ("Anderlecht", "1070", 50.83, 4.31),
    ("Wavre", "1300", 50.72, 4.60), ("Nivelles", "1400", 50.60, 4.32),
    ("Antwerpen", "2000", 51.22, 4.40), ("Mechelen", "2800", 51.03, 4.48),
    ("Turnhout", "2300", 51.32, 4.94), ("Leuven", "3000", 50.88, 4.70),
    ("Aarschot", "3200", 50.99, 4.84), ("Hasselt", "3500", 50.93, 5.34),
    ("Genk", "3600", 50.97, 5.50), ("Liege", "4000", 50.63, 5.57),
    ("Verviers", "4800", 50.59, 5.86), ("Namur", "5000", 50.47, 4.87),
    ("Dinant", "5500", 50.26, 4.91), ("Arlon", "6700", 49.68, 5.81),
    ("Bastogne", "6600", 50.00, 5.72), ("Mons", "7000", 50.45, 3.95),
    ("Charleroi", "6000", 50.41, 4.44), ("Tournai", "7500", 50.61, 3.39),
    ("Brugge", "8000", 51.21, 3.22), ("Kortrijk", "8500", 50.83, 3.26),
    ("Oostende", "8400", 51.22, 2.92), ("Gent", "9000", 51.05, 3.72),
    ("Aalst", "9300", 50.94, 4.04), ("Sint-Niklaas", "9100", 51.17, 4.14))
  private val Streets = Seq("Kerkstraat", "Stationsstraat", "Dorpsstraat",
    "Rue de la Gare", "Molenstraat", "Nieuwstraat", "Rue Haute", "Schoolstraat")
  private val HouseSubtypes = Seq("HOUSE", "VILLA", "TOWN_HOUSE", "BUNGALOW",
    "FARMHOUSE", "MANSION")
  private val FlatSubtypes = Seq("APARTMENT", "DUPLEX", "PENTHOUSE", "FLAT_STUDIO")
  private val Kitchens = Seq("INSTALLED", "HYPER_EQUIPPED", "SEMI_EQUIPPED",
    "NOT_INSTALLED")
  private val Conditions = Seq("GOOD", "AS_NEW", "TO_RENOVATE", "JUST_RENOVATED",
    "TO_BE_DONE_UP", "TO_RESTORE")
  private val EpcScores = Seq("A+", "A", "B", "C", "D", "E", "F", "G")

  /** `n` listings with ids `base`, `base + 1`, ...; deterministic in `seed`. */
  def universe(seed: Long, n: Int, base: Long = 10000000L): IndexedSeq[Listing] = {
    val r = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    def maybe[T](p: Double)(v: => T): Option[T] = if (r.nextDouble() < p) Some(v) else None
    def round1(d: Double): Double = math.round(d * 10) / 10.0
    (0 until n).map { i =>
      val (town, postal, lat, lon) = pick(Towns)
      val house = r.nextDouble() < 0.8
      val bedrooms = 1 + r.nextInt(5)
      val area = round1(40 + bedrooms * 25 + r.nextDouble() * 120)
      val pool = r.nextDouble() < 0.05
      val price = math.round((900 * area + 30000 * bedrooms + 60000 +
        (if (pool) 40000 else 0)) * (0.9 + 0.2 * r.nextDouble())).toDouble
      // a seeded share of pages carries neither EPC field: the scraper
      // rejects those, so week-1 link statuses split into scraped/error
      val noEnergy = r.nextDouble() < 0.08
      Listing(
        id = base + i,
        kind = if (house) "house" else "apartment",
        subtype = if (house) pick(HouseSubtypes) else pick(FlatSubtypes),
        locality = town, postal = postal,
        street = pick(Streets), number = (1 + r.nextInt(200)).toString,
        lat = lat + (r.nextDouble() - 0.5) * 0.1,
        lon = lon + (r.nextDouble() - 0.5) * 0.1,
        bedrooms = bedrooms, livingArea = area, price = price,
        fireplace = r.nextDouble() < 0.2, pool = pool,
        terrace = maybe(0.5)(round1(5 + r.nextDouble() * 40)),
        garden = maybe(0.6)(round1(20 + r.nextDouble() * 800)),
        land = if (house) maybe(0.9)(round1(100 + r.nextDouble() * 1500)) else None,
        kitchen = pick(Kitchens),
        facades = maybe(0.85)(2 + r.nextInt(3)),
        condition = pick(Conditions),
        built = maybe(0.8)(1900 + r.nextInt(124)),
        epcScore = if (noEnergy) None else maybe(0.7)(pick(EpcScores)),
        kwh = if (noEnergy) None else Some(round1(-50 + r.nextDouble() * 650)))
    }
  }

  private def js(s: String): String = "\"" + s + "\""
  private def jsOpt[T](o: Option[T]): String = o.fold("null")(_.toString)

  /** One listing page: filler markup around the `window.classified` payload
    * the scraper extracts. */
  def page(l: Listing): String = {
    val payload =
      s"""{"property":{"type":${js(l.kind.toUpperCase)},"subtype":${js(l.subtype)},""" +
      s""""bedroomCount":${l.bedrooms},"netHabitableSurface":${l.livingArea},""" +
      s""""fireplaceExists":${l.fireplace},"hasSwimmingPool":${l.pool},""" +
      s""""hasTerrace":${l.terrace.nonEmpty},"terraceSurface":${jsOpt(l.terrace)},""" +
      s""""hasGarden":${l.garden.nonEmpty},"gardenSurface":${jsOpt(l.garden)},""" +
      s""""location":{"locality":${js(l.locality)},"postalCode":${js(l.postal)},""" +
      s""""street":${js(l.street)},"number":${js(l.number)},""" +
      s""""latitude":${l.lat},"longitude":${l.lon}},""" +
      s""""kitchen":{"type":${js(l.kitchen)}},""" +
      s""""building":{"facadeCount":${jsOpt(l.facades)},"condition":${js(l.condition)},""" +
      s""""constructionYear":${jsOpt(l.built)}},"land":{"surface":${jsOpt(l.land)}}},""" +
      s""""transaction":{"sale":{"price":${l.price}},"certificates":{""" +
      s""""epcScore":${l.epcScore.fold("null")(js)},""" +
      s""""primaryEnergyConsumptionPerSqm":${jsOpt(l.kwh)}}}}"""
    val filler = ("<div class=\"classified__section\"><p>" + l.street + " " +
      l.number + ", " + l.postal + " " + l.locality + "</p></div>\n") * 12
    s"""<!DOCTYPE html><html><head><title>${l.subtype} for sale in ${l.locality}</title>
       |</head><body>
       |$filler<script type="text/javascript">
       |  window.classified = $payload;
       |</script>
       |$filler</body></html>""".stripMargin
  }

  /** Sitemap index (one non-classified sub-map the scraper must skip) and
    * the classified sub-maps, `perMap` listing URLs each. */
  def sitemap(week: String, ls: Seq[Listing], perMap: Int = 1000): (String, Map[String, String]) = {
    val subs = ls.grouped(perMap).zipWithIndex.map { case (group, i) =>
      val url = s"https://www.immoweb.be/sitemap/$week/classified-$i.xml"
      url -> group.map(l =>
        s"""<url><loc>${l.url}</loc><xhtml:link rel="alternate" hreflang="en-BE" href="${l.url}"/></url>""")
        .mkString("<urlset>\n", "\n", "\n</urlset>")
    }.toMap
    val other = s"https://www.immoweb.be/sitemap/$week/agencies.xml"
    val index = (subs.keys.toSeq.sorted :+ other)
      .map(u => s"<sitemap><loc>$u</loc></sitemap>")
      .mkString("<sitemapindex>\n", "\n", "\n</sitemapindex>")
    (index, subs + (other -> "<urlset></urlset>"))
  }
}

/** Serves sitemaps and pages from a JVM-global table, so a fetch is a map
  * lookup rather than a closure that ships the whole site to every task.
  * Local mode runs tasks in this JVM, so the counters are exact. */
class TableFetcher extends graft.ingest.Sitemap.Fetcher {
  def fetch(url: String): String = {
    val body = TableFetcher.site.get(url)
    if (body == null) throw new java.io.IOException(s"404 $url")
    (if (url.endsWith(".xml")) TableFetcher.sitemapFetches else TableFetcher.pageFetches)
      .incrementAndGet()
    body
  }
}

object TableFetcher {
  val site = new ConcurrentHashMap[String, String]()
  val pageFetches = new AtomicLong()
  val sitemapFetches = new AtomicLong()

  def serve(pages: collection.Map[String, String]): Unit = {
    site.clear()
    pages.foreach { case (k, v) => site.put(k, v) }
  }
}
