package graft

import graft.functions.TextFns
import graft.queries.Text
import org.apache.spark.sql.functions._

class TextSpec extends GraftSuite {
  import spark.implicits._

  test("token and BPE-ish counts") {
    val r = Seq("Hello world, 42 times!").toDF("text")
      .select(TextFns.tokenCount($"text"), TextFns.bpeCount($"text")).collect().head
    assert(r.getLong(0) == 4)
    // Hello | world | , | 42 | times | !  -> 6
    assert(r.getLong(1) == 6)
  }

  test("shingles produce n-grams, short docs fall back to whole text") {
    val got = Seq("a b c d").toDF("t").select(TextFns.shingles($"t", 3)).as[Seq[String]].collect().head
    assert(got == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t").select(TextFns.shingles($"t", 3)).as[Seq[String]].collect().head
    assert(short == Seq("a b"))
  }

  test("fingerprint is order-invariant over token sets") {
    val fps = Seq("b a c", "c b a", "a b x").toDF("t")
      .select(TextFns.fingerprint($"t")).as[String].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("langid predicts marker-dominant language deterministically") {
    val df = Seq(
      (1L, "der hund und die katze das haus", "de"),
      (2L, "the cat and the dog of the house is", "en"),
      (3L, "el perro y los gatos las casas", "es")).toDF("doc_id", "text", "lang")
    // route through a temp view shaped like documents
    val got = graft.queries.Text.textLangid(spark, sf0001)
    assert(got.columns.contains("pred_lang"))
    // each marker-dominant doc is predicted as its own language
    val pred = Text.langidOf(df).select($"doc_id", $"pred_lang", $"lang")
      .as[(Long, String, String)].collect()
    assert(pred.toSeq == Seq((1L, "de", "de"), (2L, "en", "en"), (3L, "es", "es")))
    // directly exercise marker logic via tokensIn
    val cnt = df.select(TextFns.tokensIn($"text", Seq("der", "die", "und", "das"))).as[Long].collect()
    assert(cnt.toSeq == Seq(4L, 0L, 0L))
  }

  test("langid handles zh, mixed-language docs, and confidence shares") {
    val df = Seq(
      (1L, "中文文本处理引擎", "zh"), // pure CJK
      (2L, "the dog and 中文 of the house is", "en"),          // mixed: 5 en vs 2 zh
      (3L, "12345 67890 !!!", "en"))                                    // no markers at all
      .toDF("doc_id", "text", "lang")
    val got = graft.queries.Text.langidOf(df)
      .select($"doc_id", $"pred_lang", $"confidence", $"correct")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got(1L) == (("zh", 1.0, true)))
    assert(got(2L)._1 == "en" && got(2L)._3)
    assert(got(2L)._2 == math.floor(5.0 / 7.0 * 10000) / 10000)
    assert(got(3L) == (("unknown", 0.0, false)))
  }

  test("quality score is within [0,1] on the corpus") {
    val scores = Text.textQuality(spark, sf0001).select($"quality_score").as[Double].collect()
    assert(scores.nonEmpty && scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("repetition ratio flags loops and passes varied prose") {
    val grams = graft.functions.WordNgrams(TextFns.toks($"text"), 3)
    val df = Seq(
      (1L, "buy now " * 30),                       // one 3-gram repeated
      (2L, (1 to 60).map(i => s"tok$i").mkString(" "))) // all distinct
      .toDF("doc_id", "text")
      .select($"doc_id", size(grams).cast("long").as("n"),
        size(array_distinct(grams)).cast("long").as("d"))
      .withColumn("dup_ratio", lit(1.0) - $"d" / $"n")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(df(1L) > 0.9, s"loop not flagged: ${df(1L)}")
    assert(df(2L) == 0.0, s"varied prose flagged: ${df(2L)}")
  }

  test("PII redaction scrubs emails, phones and IPs but not prose") {
    val redact = (c: org.apache.spark.sql.Column) =>
      regexp_replace(
        regexp_replace(
          regexp_replace(c,
            lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>")),
          lit("\\b\\d{3}-\\d{2,4}\\b"), lit("<PHONE>")),
        lit("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"), lit("<IP>"))
    val out = Seq("mail bob.smith+x@corp.co.uk now 555-0199 from 192.168.1.1 ok plain 12 text")
      .toDF("text").select(redact($"text")).as[String].head()
    assert(out == "mail <EMAIL> now <PHONE> from <IP> ok plain 12 text", out)
  }

  test("decontamination flags exact benchmark copies and nothing else") {
    val bench = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val df = Seq(
      (0L, bench),                                    // benchmark member (id % 20 == 0)
      (1L, bench),                                    // full copy -> contaminated
      (2L, "totally unrelated words that share no thirteen gram with anything here at all"))
      .toDF("doc_id", "text")
    val sh = df.select($"doc_id",
      explode(TextFns.shingles($"text", 13)).as("sh"))
    val benchSh = sh.filter($"doc_id" % 20 === 0).select($"sh", $"doc_id".as("b"))
    val flagged = sh.join(benchSh, "sh").filter($"doc_id" =!= $"b")
      .select($"doc_id").distinct().as[Long].collect().toSet
    assert(flagged == Set(1L))
  }
}
