package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{GeoFunctions => G}
import graft.lake.Pages
import graft.operators.Tiling
import graft.workflow.WorkflowRunner

/** Seeded input generators. The seed only moves inputs (a page-index
  * offset, a city lattice offset, a corpus hash salt); sizes are fixed by
  * the workload, so every seed does the same amount of work. */
object Gen {
  /** splitmix64 finalizer: a well-mixed long from the seed. */
  def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---- pages --------------------------------------------------------------

  /** First page index: under 1/32 of the row count, so at most part of one
    * of `Pages.synth`'s 32 slices is filtered away. */
  def pageOffset(seed: Long, n: Long): Long =
    java.lang.Math.floorMod(mix(seed), 64L) * math.max(1L, n / 2048)

  /** `n` synthesized pages with indices [offset, offset + n). */
  def pages(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val off = pageOffset(seed, n)
    Pages.synth(spark, off + n).where(col("i") >= off)
  }

  // ---- city ---------------------------------------------------------------

  /** A generated city at the density of the 100k-building, 8 km reference
    * city (`graft.CityProbe`): 60% of buildings on a 16.3 m lattice over
    * the central half of the extent, 40% on a 40 m lattice over all of it,
    * a 200 m street mesh with 100 m infill in the centre, vegetation and
    * water patches. The extent scales with √n so density stays fixed; the
    * seed shifts both building lattices against the street mesh. */
  final case class City(n: Long, seed: Long) {
    val scale: Double = math.sqrt(n / 100000.0)
    val extent: Double = math.round(8000 * scale / 200.0) * 200.0
    val lo: Double = math.round(extent / 4 / 100.0) * 100.0
    val hi: Double = extent - lo
    val nCenter: Long = n * 3 / 5
    val nOuter: Long = n - nCenter
    val centerPerRow: Long = math.max(1L, math.round(245 * scale))
    val outerPerRow: Long = math.max(1L, math.round(200 * scale))
    val nVeg: Long = math.max(1L, n / 50)
    val vegPerRow: Long = math.max(1L, math.round(80 * scale))
    val nWater: Long = math.max(1L, n / 100)
    val waterPerRow: Long = math.max(1L, math.round(40 * scale))
    val (ox, oy) = {
      val h = mix(seed)
      (java.lang.Math.floorMod(h, 160L) / 10.0, java.lang.Math.floorMod(h >>> 16, 160L) / 10.0)
    }
    val cellSize = 100.0
    val nCells: Long = math.ceil(extent / cellSize).toLong * math.ceil(extent / cellSize).toLong

    def roadWkts: Seq[String] = {
      val e = extent.toInt
      val mesh = (0 to e by 200)
      val infill = (100 until e by 200).filter(p => p > lo && p < hi)
      mesh.map(p => s"LINESTRING($p 0, $p $e)") ++ mesh.map(p => s"LINESTRING(0 $p, $e $p)") ++
        infill.map(p => s"LINESTRING($p $lo, $p $hi)") ++ infill.map(p => s"LINESTRING($lo $p, $hi $p)")
    }

    def layers(spark: SparkSession): WorkflowRunner.Layers = {
      import spark.implicits._
      val id = col("id")
      val center = spark.range(nCenter).select(id.as("id_build"),
        (lit(lo + ox) + pmod(id, lit(centerPerRow)) * 16.3).as("x0"),
        (lit(lo + oy) + floor(id / centerPerRow) * 16.3).as("y0"))
      val outer = spark.range(nOuter).select((id + nCenter).as("id_build"),
        (lit(5.0 + ox) + pmod(id, lit(outerPerRow)) * 40.0).as("x0"),
        (lit(5.0 + oy) + floor(id / outerPerRow) * 40.0).as("y0"))
      val b = col("id_build")
      val building = center.unionByName(outer)
        .withColumn("w", (b % 7 + 6).cast("double"))
        .withColumn("h", (pmod(floor(b / 7), lit(7)) + 6).cast("double"))
        .withColumn("the_geom", G.stMakeBox(col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("h")))
        .withColumn("height_wall", (b % 10 + 3).cast("double"))
        .withColumn("height_roof", col("height_wall") + (b % 4).cast("double"))
        .withColumn("nb_lev", (b % 3 + 1).cast("int"))
        .withColumn("type", element_at(lit(Array("house", "apartments", "office", "industrial")),
          (b % 4).cast("int") + 1))
        .drop("x0", "y0", "w", "h")
        .localCheckpoint()
      val road = roadWkts.toDF("wkt")
        .select(G.stGeomFromWkt(col("wkt")).as("the_geom"), lit(6.0).as("width"),
          lit(0).as("zindex"), lit(null).cast("string").as("crossing"),
          lit("primary").as("type"), lit(0).as("tunnel"))
        .localCheckpoint()
      val veg = spark.range(nVeg).select(id.as("id_veget"),
          (pmod(id, lit(vegPerRow)) * 100.0 + 13.0).as("vx"),
          (floor(id / vegPerRow) * 320.0 + 17.0).as("vy"))
        .select(col("id_veget"), G.stMakeBox(col("vx"), col("vy"), col("vx") + 40, col("vy") + 30).as("the_geom"),
          lit("high").as("height_class"))
        .localCheckpoint()
      val water = spark.range(nWater).select(id.as("id_water"), lit(0).as("zindex"),
          (pmod(id, lit(waterPerRow)) * 200.0 + 61.0).as("wx"),
          (floor(id / waterPerRow) * 320.0 + 111.0).as("wy"))
        .select(col("id_water"), col("zindex"),
          G.stMakeBox(col("wx"), col("wy"), col("wx") + 25, col("wy") + 20).as("the_geom"))
        .localCheckpoint()
      val zone = spark.range(1).select(lit(1).as("id_zone"),
        G.stMakeBox(lit(0.0), lit(0.0), lit(extent), lit(extent)).as("the_geom"))
      WorkflowRunner.Layers(zone = zone, building = building, road = Some(road),
        vegetation = Some(veg), water = Some(water))
    }

    def cells(spark: SparkSession): DataFrame =
      Tiling.makeGrid(spark, 0, 0, extent, extent, cellSize, cellSize).withColumn("id_zone", lit(1))
  }

  // ---- corpus -------------------------------------------------------------

  /** Per-language vocabularies: each language's stopwords plus common
    * words, so the language gate sees five real languages. */
  val Vocab: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it", "for", "river",
      "house", "city", "market", "winter", "garden", "people", "water", "street", "morning"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "un", "une", "que", "dans", "maison",
      "ville", "marche", "hiver", "jardin", "gens", "eau", "rue", "matin", "fleuve"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein", "haus",
      "stadt", "markt", "winter", "garten", "leute", "wasser", "strasse", "morgen", "fluss"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un", "una", "por", "casa",
      "ciudad", "mercado", "invierno", "jardin", "gente", "agua", "calle", "manana", "rio"),
    "it" -> Seq("il", "la", "di", "che", "e", "un", "una", "per", "con", "del", "casa",
      "citta", "mercato", "inverno", "giardino", "gente", "acqua", "strada", "mattina", "fiume"))
  val Langs: Seq[String] = Seq("en", "fr", "de", "es", "it")
  val Viral = " subscribe to our newsletter for updates delivered fresh daily now"

  /** `n` documents (doc_id, text, lang). Every 50 ids: id%50==1 is an exact
    * copy of id-1, id%50==2 a near copy of id-2 (two words appended); every
    * 4th base doc carries a viral span, every 10th an email address. The
    * salt only changes the word draws. */
  def corpus(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val salt = mix(seed)
    val id = col("id")
    val base = when(pmod(id, lit(50)) === 1, id - 1).when(pmod(id, lit(50)) === 2, id - 2).otherwise(id)
    val langIdx = pmod(base, lit(Langs.size.toLong)).cast("int")
    val vocab = typedLit(Langs.map(Vocab))
    val words = element_at(vocab, langIdx + 1)
    val nW = (pmod(xxhash64(lit(salt), base), lit(81)) + 40).cast("int")
    val text = concat(
      array_join(transform(sequence(lit(0), nW - 1),
        i => element_at(words, (pmod(xxhash64(lit(salt), base, i), lit(20L)) + 1).cast("int"))), " "),
      when(pmod(id, lit(50)) === 2, lit(" minor edit")).otherwise(lit("")),
      when(pmod(base, lit(4)) === 0, lit(Viral)).otherwise(lit("")),
      when(pmod(base, lit(10)) === 0,
        concat(lit(" contact user"), base.cast("string"), lit("@mail"),
          pmod(base, lit(7)).cast("string"), lit(".com today"))).otherwise(lit("")))
    spark.range(n).select(id.as("doc_id"), text.as("text"),
      element_at(typedLit(Langs), langIdx + 1).as("lang"))
  }

  /** Order-independent digest of a DataFrame's rows. */
  def digest(df: DataFrame): Long = {
    val h = xxhash64(df.columns.map(col): _*)
    df.select(h.as("h")).agg(bit_xor(col("h")), count(lit(1))).head() match {
      case r => if (r.isNullAt(0)) 0L else r.getLong(0) ^ mix(r.getLong(1))
    }
  }
}
