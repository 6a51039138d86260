package graft

/** Small literal dictionaries standing in for the reference's side-input
  * files (adj.txt / stopwords_en.txt, read at
  * MapperExtractTransform.java:52-61). The testdata `documents.text`
  * vocabulary is synthetic; these are its adjective-ish subset and
  * article stopwords.
  */
object Dictionaries {
  val Stopwords: Seq[String] = Seq("the", "a")
  val Adjectives: Seq[String] = Seq("fast", "slow", "small", "big")
}
