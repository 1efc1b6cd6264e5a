package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[TextAnalysis.gopherRepetitionStats]] /
  * [[TextAnalysis.gopherRepetitionFlags]] — hand-computed fixtures for the
  * Gopher repetition battery, and [[TextAnalysis.redactPii]] boundary
  * cases.
  */
class RepetitionSpec extends SparkSpec {
  import spark.implicits._

  test("repetition stats match hand-computed values") {
    // doc 1: "a b a b a b" — toks 6, text 11 chars
    //   2-grams: "a b"×3, "b a"×2  → top2 = 3·3 = 9, dup2 = 9 + 6 = 15
    //   3-grams: "a b a"×2, "b a b"×2 → top3 = 10, dup3 = 10+10 = 20
    // doc 2: "x\nx\ny" — lines x,x,y → n=3, dup=1, dup_chars=1; paras: 1
    // doc 3: "p\n\np\n\nq" — paras p,p,q → n=3, dup=1, dup_chars=1
    //   lines (blank dropped): x? no — p,p,q same counts
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "x\nx\ny"),
      (3L, "p\n\np\n\nq")).toDF("doc_id", "text")
    val stats = TextAnalysis.gopherRepetitionStats(docs, "doc_id", "text",
      topNs = Seq(2, 3), dupNs = Seq(2, 3, 5))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

    val d1 = stats(1L)
    assert(d1.getAs[Long]("text_chars") == 11L)
    assert(d1.getAs[Long]("n_lines") == 1L && d1.getAs[Long]("dup_lines") == 0L)
    assert(d1.getAs[Long]("top2gram_chars") == 9L)
    assert(d1.getAs[Long]("dup2gram_chars") == 15L)
    assert(d1.getAs[Long]("top3gram_chars") == 10L)
    assert(d1.getAs[Long]("dup3gram_chars") == 20L)
    // only two 5-grams ("a b a b a", "b a b a b"), both unique
    assert(d1.getAs[Long]("dup5gram_chars") == 0L)

    val d2 = stats(2L)
    assert(d2.getAs[Long]("n_lines") == 3L)
    assert(d2.getAs[Long]("dup_lines") == 1L)
    assert(d2.getAs[Long]("dup_lines_chars") == 1L)
    assert(d2.getAs[Long]("n_paras") == 1L && d2.getAs[Long]("dup_paras") == 0L)

    val d3 = stats(3L)
    assert(d3.getAs[Long]("n_paras") == 3L)
    assert(d3.getAs[Long]("dup_paras") == 1L)
    assert(d3.getAs[Long]("dup_paras_chars") == 1L)
  }

  test("repetition flags trip at the paper thresholds, integer-exact") {
    // 10 lines, 3 dups → frac 0.3 exactly → still ok (≤); 4 dups → not ok
    val mk = (nDup: Int) =>
      ((1 to (10 - nDup)).map(i => s"u$i") ++ (1 to nDup).map(_ => "u1")).mkString("\n")
    val docs = Seq((1L, mk(3)), (2L, mk(4))).toDF("doc_id", "text")
    val flags = TextAnalysis.gopherRepetitionFlags(
      TextAnalysis.gopherRepetitionStats(docs, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(5)), topNs = Seq(2), dupNs = Seq(5))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(flags(1L).getAs[Boolean]("ok_dup_lines"))
    assert(!flags(2L).getAs[Boolean]("ok_dup_lines"))
    // "w w w w w w" — top2 "w w"×5, chars 15, text 11 → 15·5 > 11 → trip
    val hot = Seq((1L, "w w w w w w")).toDF("doc_id", "text")
    val f = TextAnalysis.gopherRepetitionFlags(
      TextAnalysis.gopherRepetitionStats(hot, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(5)), topNs = Seq(2), dupNs = Seq(5))
      .collect().head
    assert(!f.getAs[Boolean]("ok_top2gram"))
    // 5-grams: "w w w w w"×2 → dup5 = 18, 18·20 > 11·3 → trip
    assert(!f.getAs[Boolean]("ok_dup5gram"))
    // empty document passes everything (0 ≤ 0)
    val empty = Seq((1L, "")).toDF("doc_id", "text")
    val fe = TextAnalysis.gopherRepetitionFlags(
      TextAnalysis.gopherRepetitionStats(empty, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(5)), topNs = Seq(2), dupNs = Seq(5))
      .collect().head
    assert(fe.getAs[Boolean]("ok_dup_lines") && fe.getAs[Boolean]("ok_top2gram"))
  }

  test("gram stats survive a maximally repetitive document (equal-key sort band)") {
    // 1000 identical tokens: 2-grams "w w"×999 (len 3), 5-grams ×996 (len 9)
    val doc = Seq((1L, Array.fill(1000)("w").mkString(" "))).toDF("doc_id", "text")
    val r = TextAnalysis.gopherRepetitionStats(doc, "doc_id", "text",
      topNs = Seq(2), dupNs = Seq(5)).collect().head
    assert(r.getAs[Long]("top2gram_chars") == 3L * 999L)
    assert(r.getAs[Long]("dup5gram_chars") == 9L * 996L)
  }

  test("c4CleanLines keeps exactly the compliant lines; c4DocFlags trip per rule") {
    val doc =
      "Good sentence with enough words here.\n" +
        "short line.\n" +
        "no terminal punctuation on this line at all\n" +
        "Please enable javascript to continue loading.\n" +
        "Another proper sentence closes the page!"
    val r = Seq((1L, doc)).toDF("doc_id", "text")
      .select(TextAnalysis.c4CleanLines(col("text")).as("c"),
        TextAnalysis.c4DocFlags(col("text")).as("f"))
      .collect().head
    assert(r.getString(0) ==
      "Good sentence with enough words here.\nAnother proper sentence closes the page!")
    val f = r.getStruct(1)
    // two terminal marks survive cleaning → below the 3-sentence bar
    assert(!f.getAs[Boolean]("ok_sentences"))
    assert(f.getAs[Boolean]("ok_no_braces") && f.getAs[Boolean]("ok_no_lorem"))

    val flags2 = Seq(
      (1L, "First sentence is long enough here. Second one also works fine! Third closes it properly."),
      (2L, "if (x) { y(); } Otherwise this sentence is long enough."),
      (3L, "Lorem ipsum dolor sit amet consectetur elit.")).toDF("doc_id", "text")
      .select(col("doc_id"), TextAnalysis.c4DocFlags(col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getStruct(1)).toMap
    assert(flags2(1L).getAs[Boolean]("ok_sentences"))
    assert(!flags2(2L).getAs[Boolean]("ok_no_braces"))
    assert(!flags2(3L).getAs[Boolean]("ok_no_lorem"))
  }

  test("redactPii: order, octet ranges, phone shapes, and survivors") {
    val rows = Seq(
      // userinfo URL must go as <URL>, the bare email as <EMAIL>
      "see https://a:b@c.net/x and a@b.org",
      // valid + out-of-range IPv4
      "ok 203.0.113.9 bad 999.1.2.3 also 256.1.1.1",
      // three phone shapes + a bare 10-digit run that must SURVIVE
      "+1 555-123-4567 or (555) 123-4567 or 555.123.4567 id 5551234567",
      "no pii here").toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"))
      .as[String].collect()
    assert(rows(0) == "see <URL> and <EMAIL>")
    assert(rows(1) == "ok <IP> bad 999.1.2.3 also 256.1.1.1")
    assert(rows(2) == "<PHONE> or <PHONE> or <PHONE> id 5551234567")
    assert(rows(3) == "no pii here")
  }

  test("fused piiScrub is bit-exact vs the staged relational battery") {
    import TextAnalysis._
    // every class, mixed per row, plus decoys and a clean row — and the
    // organic corpus so parity is pinned on real text too
    val synth = Seq(
      (-1L, "reach a@b.org or https://u:p@h.net/a?x=1 node 10.1.0.7 bad 999.1.2.3 call +1 555-123-4567"),
      (-2L, "double x@y.io y@z.io ips 8.8.8.8 8.8.4.4 phones (555) 111-2222 555.333.4444"),
      (-3L, "url-only https://e.com/p#f then text"),
      (-4L, "clean row with no contacts at all")).toDF("doc_id", "text")
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).unionByName(synth)
    val t1 = regexp_replace(col("text"), UrlPattern, "<URL>")
    val staged = docs
      .withColumn("n_emails", regexp_count(t1, lit(EmailPattern)))
      .withColumn("_t2", regexp_replace(t1, EmailPattern, "<EMAIL>"))
      .withColumn("n_ips", regexp_count(col("_t2"), lit(IpPattern)))
      .withColumn("_t3", regexp_replace(col("_t2"), IpPattern, "<IP>"))
      .withColumn("n_phones", regexp_count(col("_t3"), lit(PhonePattern)))
      .withColumn("redacted", regexp_replace(col("_t3"), PhonePattern, "<PHONE>"))
      .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"), col("redacted"))
    val fused = docs.withColumn("_p", piiScrub(col("text")))
      .select(col("doc_id"), col("_p.n_emails").as("n_emails"),
        col("_p.n_ips").as("n_ips"), col("_p.n_phones").as("n_phones"),
        col("_p.redacted").as("redacted"))
    val a = staged.collect().map(_.toSeq).toSet
    val b = fused.collect().map(_.toSeq).toSet
    assert(a == b)
    // sanity: the synth rows really exercise each counter
    val byId = fused.collect().map(r => r.getLong(0) -> r).toMap
    assert(byId(-1L).getInt(1) == 1 && byId(-1L).getInt(2) == 1 && byId(-1L).getInt(3) == 1)
    assert(byId(-2L).getInt(1) == 2 && byId(-2L).getInt(2) == 2 && byId(-2L).getInt(3) == 2)
    assert(byId(-4L).getString(4) == "clean row with no contacts at all")
  }
}
