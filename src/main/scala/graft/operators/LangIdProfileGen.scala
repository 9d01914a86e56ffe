package graft.operators

/** Builds the committed character-trigram language profiles under
  * `fixtures/langid/profile.parquet` — the "model file" for ta_langid
  * (CLD-style n-gram text categorization; Cavnar & Trenkle 1994 for the
  * n-gram profile idea, smoothed per-trigram log-likelihoods as in any
  * n-gram language model).
  *
  * Per language L with trigram counts c(t,L) over N_L total occurrences and
  * V = |union of trigram vocabularies| + 1:
  *
  *   weight(t,L) = round(−1000·ln((c(t,L)+1) / (N_L+V)))   — add-one smoothing
  *   OOV(L)      = round(−1000·ln(      1    / (N_L+V)))   — unseen trigram
  *
  * Weights are INTEGERS: query-time scoring is pure integer summation, so
  * Spark and the DuckDB oracle agree bit-for-bit regardless of summation
  * order (float log-prob sums would differ in the last ulp across engines).
  * The OOV row is stored under the reserved trigram key `__OOV__`.
  *
  * Training text: small original corpora of everyday sentences embedded
  * below (en/fr/de/es). Spec test sentences are deliberately different.
  *
  * Run once: `sbt "runMain graft.operators.LangIdProfileGen fixtures/langid"`.
  */
object LangIdProfileGen {

  val trainEn: Seq[String] = Seq(
    "the weather is very nice today and the children are playing in the garden",
    "she wants to read a new book about the history of the old city",
    "we should take the train to the coast and walk along the beach",
    "he said that the meeting will start in the morning after breakfast",
    "the students are learning how to write short stories in english",
    "my mother cooks dinner every evening and we eat together at the table",
    "the little dog runs across the street to greet the friendly neighbor",
    "they have been working on this project for more than three years",
    "i would like a cup of tea with milk and a piece of bread",
    "the museum is open from nine in the morning until five in the evening",
    "it is important to drink enough water when the sun is strong",
    "the farmer grows corn and wheat in the fields behind the house",
    "she plays the piano while her brother sings an old song",
    "the library has many interesting books about science and nature",
    "we watched a beautiful film about the mountains and the sea",
    "the teacher explains the lesson slowly so that everyone understands",
    "people often forget how quickly the seasons change every year",
    "there is a small market in the village where they sell fresh fruit")

  val trainFr: Seq[String] = Seq(
    "le temps est tres beau aujourd hui et les enfants jouent dans le jardin",
    "elle veut lire un nouveau livre sur l histoire de la vieille ville",
    "nous devrions prendre le train pour la cote et marcher le long de la plage",
    "il a dit que la reunion commencera le matin apres le petit dejeuner",
    "les etudiants apprennent a ecrire de courtes histoires en francais",
    "ma mere prepare le diner chaque soir et nous mangeons ensemble a table",
    "le petit chien traverse la rue pour saluer le voisin sympathique",
    "ils travaillent sur ce projet depuis plus de trois ans",
    "je voudrais une tasse de the avec du lait et un morceau de pain",
    "le musee est ouvert de neuf heures du matin a cinq heures du soir",
    "il est important de boire assez d eau quand le soleil est fort",
    "le fermier cultive du mais et du ble dans les champs derriere la maison",
    "elle joue du piano pendant que son frere chante une vieille chanson",
    "la bibliotheque possede beaucoup de livres sur la science et la nature",
    "nous avons regarde un beau film sur les montagnes et la mer",
    "le professeur explique la lecon lentement pour que tout le monde comprenne",
    "les gens oublient souvent combien les saisons changent chaque annee",
    "il y a un petit marche dans le village ou l on vend des fruits frais")

  val trainDe: Seq[String] = Seq(
    "das wetter ist heute sehr schoen und die kinder spielen im garten",
    "sie moechte ein neues buch ueber die geschichte der alten stadt lesen",
    "wir sollten den zug zur kueste nehmen und am strand entlang gehen",
    "er sagte dass die besprechung am morgen nach dem fruehstueck beginnt",
    "die studenten lernen wie man kurze geschichten auf deutsch schreibt",
    "meine mutter kocht jeden abend das essen und wir essen zusammen am tisch",
    "der kleine hund laeuft ueber die strasse um den freundlichen nachbarn zu begruessen",
    "sie arbeiten seit mehr als drei jahren an diesem projekt",
    "ich moechte eine tasse tee mit milch und ein stueck brot",
    "das museum ist von neun uhr morgens bis fuenf uhr abends geoeffnet",
    "es ist wichtig genug wasser zu trinken wenn die sonne stark ist",
    "der bauer baut mais und weizen auf den feldern hinter dem haus an",
    "sie spielt klavier waehrend ihr bruder ein altes lied singt",
    "die bibliothek hat viele interessante buecher ueber wissenschaft und natur",
    "wir haben einen schoenen film ueber die berge und das meer gesehen",
    "der lehrer erklaert die lektion langsam damit alle sie verstehen",
    "die leute vergessen oft wie schnell sich die jahreszeiten aendern",
    "es gibt einen kleinen markt im dorf wo man frisches obst verkauft")

  val trainEs: Seq[String] = Seq(
    "el tiempo esta muy bueno hoy y los ninos juegan en el jardin",
    "ella quiere leer un libro nuevo sobre la historia de la ciudad vieja",
    "deberiamos tomar el tren a la costa y caminar por la playa",
    "el dijo que la reunion empezara por la manana despues del desayuno",
    "los estudiantes aprenden a escribir cuentos cortos en espanol",
    "mi madre cocina la cena cada noche y comemos juntos en la mesa",
    "el perro pequeno cruza la calle para saludar al vecino amable",
    "llevan trabajando en este proyecto mas de tres anos",
    "me gustaria una taza de te con leche y un trozo de pan",
    "el museo esta abierto desde las nueve de la manana hasta las cinco de la tarde",
    "es importante beber suficiente agua cuando el sol es fuerte",
    "el agricultor cultiva maiz y trigo en los campos detras de la casa",
    "ella toca el piano mientras su hermano canta una cancion vieja",
    "la biblioteca tiene muchos libros interesantes sobre ciencia y naturaleza",
    "vimos una pelicula hermosa sobre las montanas y el mar",
    "el profesor explica la leccion despacio para que todos entiendan",
    "la gente olvida a menudo lo rapido que cambian las estaciones cada ano",
    "hay un mercado pequeno en el pueblo donde venden fruta fresca")

  val langs: Seq[(String, Seq[String])] =
    Seq("en" -> trainEn, "fr" -> trainFr, "de" -> trainDe, "es" -> trainEs)

  /** Same normalization the query applies: lowercase, non-letters → space. */
  def norm(s: String): String =
    s.toLowerCase.replaceAll("[^a-z]+", " ").trim

  def trigrams(s: String): Seq[String] = {
    val n = norm(s)
    if (n.length < 3) Seq.empty else (0 to n.length - 3).map(i => n.substring(i, i + 3))
  }

  def buildProfile(): Seq[(String, Long, Long, Long, Long)] = {
    val counts: Map[String, Map[String, Long]] = langs.map { case (lang, corpus) =>
      lang -> corpus.flatMap(trigrams).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    }.toMap
    val vocab = counts.values.flatMap(_.keys).toSet
    val v = vocab.size + 1
    val totals = counts.map { case (lang, m) => lang -> m.values.sum }
    def weight(lang: String, t: String): Long = {
      val c = counts(lang).getOrElse(t, 0L)
      math.round(-1000.0 * math.log((c + 1.0) / (totals(lang) + v)))
    }
    val rows = vocab.toSeq.sorted.map { t =>
      (t, weight("en", t), weight("fr", t), weight("de", t), weight("es", t))
    }
    def oov(lang: String): Long = math.round(-1000.0 * math.log(1.0 / (totals(lang) + v)))
    rows :+ (("__OOV__", oov("en"), oov("fr"), oov("de"), oov("es")))
  }

  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "fixtures/langid"
    // 200 = Spark's default width, which this main always ran with (the
    // profile write itself has no shuffle)
    val spark = graft.Sessions.start("langid-profile-gen", 200)
    import spark.implicits._
    buildProfile().toDF("trigram", "w_en", "w_fr", "w_de", "w_es")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/profile.parquet")
    println(s"wrote trigram profile to $outDir/profile.parquet")
    spark.stop()
  }
}
