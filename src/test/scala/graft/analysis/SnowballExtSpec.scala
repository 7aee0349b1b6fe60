package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

/** Armenian/Basque/Catalan/Irish Snowball stemmers. The reference archive
  * ships no voc/output vectors for these four, so validation is
  * three-pronged: (1) every among table is pinned by entry count and a
  * digest of its entries, recorded when the tables were verified equal to
  * the reference's generated literals — any edit fails here, with or
  * without the reference tree; (2) when the reference tree is present the
  * tables are also compared entry-for-entry against those literals, parsed
  * from the C# at test time (the DoubleMetaphone-vector precedent);
  * (3) control-flow semantics are asserted with hand-traced cases whose
  * longest-match/region arithmetic is worked out in comments. */
class SnowballExtSpec extends AnyFunSuite with graft.ReferenceData {

  private val ExtDir =
    "/root/reference/src/Lucene.Net.Analysis.Common/Tartarus/Snowball/Ext"

  /** Parse (suffix → code) multiset of one among table from generated C#. */
  private def parseTable(lang: String, name: String): Map[(String, Int), Int] = {
    val src = {
      val s = scala.io.Source.fromFile(
        referenceFile(new java.io.File(s"$ExtDir/${lang}Stemmer.cs")), "UTF-8")
      try s.mkString finally s.close()
    }
    val table = ("""static Among\[\] """ + name + """ = \{(.*?)\};""").r
      .findFirstMatchIn(new String(src.toCharArray).replace("\n", " "))
      .getOrElse(fail(s"table $name not found for $lang")).group(1)
    val entry = """new Among \( "((?:[^"\\]|\\.)*)", (-?\d+), (\d+),""".r
    entry.findAllMatchIn(table).map { m =>
      val lit = m.group(1)
      // unescape \uXXXX and the simple escapes the literals use
      val sb = new StringBuilder
      var i = 0
      while (i < lit.length) {
        if (lit.charAt(i) == '\\' && i + 1 < lit.length && lit.charAt(i + 1) == 'u') {
          sb.append(Integer.parseInt(lit.substring(i + 2, i + 6), 16).toChar); i += 6
        } else if (lit.charAt(i) == '\\') { sb.append(lit.charAt(i + 1)); i += 2 }
        else { sb.append(lit.charAt(i)); i += 1 }
      }
      (sb.toString, m.group(3).toInt)
    }.toSeq.groupBy(identity).view.mapValues(_.size).toMap
  }

  private def mine(tbl: Array[(String, Int)]): Map[(String, Int), Int] =
    tbl.toSeq.groupBy(identity).view.mapValues(_.size).toMap

  /** sha256 of a table's entries as a multiset: sorted by (suffix, code),
    * each written as `suffix NUL code LF` in UTF-8. */
  private def digest(tbl: Array[(String, Int)]): String = {
    val canon = tbl.sorted.map { case (suffix, code) => suffix + "\u0000" + code + "\n" }.mkString
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canon.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
  }

  test("among tables match their pinned entry counts and digests") {
    import SnowballExtTables._
    val pinned = Seq(
      ("armenian_a0", armenian_a0, 23, "88ab5f2b509720fc7f759616e05079d1d5c0ae3c4a3bd7c440523fe598d0c5cc"),
      ("armenian_a1", armenian_a1, 71, "fe1467763d73920caad3d63d65ef00c2e5f84992311ac1b62f2196df004a136c"),
      ("armenian_a2", armenian_a2, 40, "ce514d6d0af368f9c139e694770bf7696fb8488947550bba4aa0900141cbb1df"),
      ("armenian_a3", armenian_a3, 57, "19af2696e36d8b6d8fbb619972d75763244561a457dd2c907c8acf4172bd38b6"),
      ("basque_a0", basque_a0, 109, "a7de74af7541d29498aaccfdf45734cdb0063dc28bcab43a2308f722a07f2240"),
      ("basque_a1", basque_a1, 295, "f04863a6685bfcba687b7952b7e9caadbe93b2d7149e0e1cc18dde4dcac60112"),
      ("basque_a2", basque_a2, 19, "4f1eb954e7cc29af01abf773e30ccb9157a3d32a1468d197a2e25b282386504b"),
      ("catalan_a0", catalan_a0, 13, "6dac1be854c200412bb8f9f525bd29607a1ad4b0ab01083534b73127ace6ec64"),
      ("catalan_a1", catalan_a1, 39, "6f31df3ad11f4c249cb9230ef55ea296b419c40490c46377a1d213f37b672acd"),
      ("catalan_a2", catalan_a2, 200, "329bf4797a1c76bbc53d34c98bb53d1dc09c389aed118de4d426314f0eb6a76a"),
      ("catalan_a3", catalan_a3, 283, "04d17b77526c55b988856e2feff9402e8c1138c1b43cdf206b2bce5dacd33b44"),
      ("catalan_a4", catalan_a4, 22, "82cadcf55fd8b90de332866e15632865a021006671e866731d4353e7aaa2931d"),
      ("irish_a0", irish_a0, 24, "479331c524c704659b7e52ed84950214ff7e28cef72856dc7f990c51e0233f57"),
      ("irish_a1", irish_a1, 16, "17700e6ac30708ef71d04816ce5bd4bbd450718be7966b39076d4e174f17738f"),
      ("irish_a2", irish_a2, 25, "188d37bbe26ad12e2f63d3e14454d2c7d682fa7e85c4345635a37ffd0c05e56c"),
      ("irish_a3", irish_a3, 12, "890a9fae8b4da34c3904b210c7b26ca465c59394ee6fd47a9c1d7790cd454620"))
    for ((name, tbl, count, sha) <- pinned) {
      assert(tbl.length === count, s"$name entry count")
      assert(digest(tbl) === sha, s"$name entries changed")
    }
  }

  test("among tables match the reference's generated literals exactly") {
    import SnowballExtTables._
    val checks = Seq(
      ("Armenian", "a_0", armenian_a0), ("Armenian", "a_1", armenian_a1),
      ("Armenian", "a_2", armenian_a2), ("Armenian", "a_3", armenian_a3),
      ("Basque", "a_0", basque_a0), ("Basque", "a_1", basque_a1),
      ("Basque", "a_2", basque_a2),
      ("Catalan", "a_1", catalan_a1), ("Catalan", "a_2", catalan_a2),
      ("Catalan", "a_3", catalan_a3), ("Catalan", "a_4", catalan_a4),
      ("Irish", "a_0", irish_a0), ("Irish", "a_1", irish_a1),
      ("Irish", "a_2", irish_a2), ("Irish", "a_3", irish_a3))
    for ((lang, name, tbl) <- checks)
      assert(mine(tbl) === parseTable(lang, name), s"$lang $name diverges")
  }

  test("Armenian: traced verb/ending/adjective strips within the post-vowel region") {
    val s = SnowballArmenian.stem _
    // կարդացի: ending drops final ի (R2 at 6 ≤ bra 6), then verb drops աց
    assert(s("կարդացի") ===
      "կարդ") // կարդացի → կարդ
    // տներում: երում blocked by pV (bra 2 < pV 3); verb strips ում
    assert(s("տներում") ===
      "տներ") // տներում → տներ
    // գրադարան: ending strips ան (R2 6 ≤ 6), then verb strips ար
    assert(s("գրադարան") ===
      "գրադ") // գրադարան → գրադ
    // գրքերով: երով blocked by pV; longest matchable ով fails R2 → no
    // fallback to shorter entries (the switch-after-FindAmongB contract)
    val w = "գրքերով"
    assert(s(w) === w) // գրքերով unchanged
    // մարդերին: ending երին fails R2 (no fallback), but adjective ին fires
    assert(s("մարդերին") ===
      "մարդեր") // մարդերին → մարդեր
  }

  test("Basque: repeat loops thread the virtual end; conditions end the loop") {
    val s = SnowballBasque.stem _
    // aditzak karia (RV) → egun; nothing further matches
    assert(s("egunkaria") === "egun")
    // izenak ten (R1) → aurkez, then ez (RV) → aurk — repeat strips twice
    assert(s("aurkezten") === "aurk")
    // izenak denda (RV) → liburu; buru would match next but fails R2 —
    // a condition failure ENDS the repeat loop
    assert(s("liburudenda") === "liburu")
    // atseden: aditzak replaces the whole word with itself and moves the
    // virtual end to 0 — the later izenak 'en' (R1) must NOT fire
    assert(s("atseden") === "atseden")
    // takoa (RV) → mendie, nothing further
    assert(s("mendietakoa") === "mendie")
  }

  test("Catalan: pronoun → standard-or-verb → residual, then accent cleaning") {
    val s = SnowballCatalan.stem _
    // pronoun -la (R1), then standard ar (R1), residual none
    assert(s("portar-la") === "port")
    // verb ava (R1) after standard fails
    assert(s("cantava") === "cant")
    // standard 'lógica'→log needs R2 and fails at bra 0 (NO fallback);
    // residual a (R1) fires; cleaning folds ó→o
    assert(s("lógica") === "logic")
    // acions (R2) fails in nacions (p2 6 > bra 1) → residual s only...
    assert(s("nacions") === "nacion")
    // ...but passes in operacions (p2 4 ≤ bra 4) — R2-gated family suffix
    assert(s("operacions") === "oper")
    // verb arà (R1, bra 4 ≥ r1 3); residual finds nothing on cant
    assert(s("cantarà") === "cant")
  }

  test("Irish: demutation prefix map, then R1/R2/RV-gated suffix steps") {
    val s = SnowballIrish.stem _
    assert(s("bhfuil") === "fuil")   // eclipsis bhf → f
    assert(s("ngalar") === "galar")  // eclipsis ng → g
    assert(s("t-arm") === "arm")     // t- deleted
    assert(s("shúil") === "súil") // lenition sh → s (súil)
    assert(s("bailíochta") === "bail") // noun íochta (R1)
    assert(s("grafaíochta") === "graf") // noun aíochta longest (R1)
    assert(s("molfaidh") === "mol")  // verb faidh (RV)
  }

  test("registry: hy/eu/ca/ga wired into the snowball stemmer map") {
    for (lang <- Seq("hy", "eu", "ca", "ga"))
      assert(LightStemmers.snowball.contains(lang), lang)
    assert(LightStemmers.snowball("eu")("egunkaria") === "egun")
  }
}
