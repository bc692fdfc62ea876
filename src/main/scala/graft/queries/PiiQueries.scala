package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.Pii
import graft.sources.Tables

/** PII scan + redaction gates — the pre-release scrub stage of a
  * training-data pipeline (C4/Dolma-style regex scrubbers).
  *
  * The synthetic corpus contains no organic PII, so both engines INJECT
  * the same deterministic PII shapes from doc_id arithmetic (emails on
  * doc_id%7, phones on %11, IPv4s on %13, 14-digit account runs on %17)
  * — the same construct-identically-on-both-sides discipline the
  * check-battery gates use for messy columns. Patterns are written in
  * the Java-regex ∩ RE2 dialect (classes + bounded repeats only) so
  * Spark and DuckDB match identically; DuckDB's regexp_replace gets the
  * 'g' flag to match Spark's replace-all default.
  */
object PiiQueries {

  private val emailPat = Pii.patterns.toMap.apply("email")
  private val phonePat = Pii.patterns.toMap.apply("phone")
  private val ipv4Pat = Pii.patterns.toMap.apply("ipv4")
  private val ibanPat = Pii.patterns.toMap.apply("iban")
  private val ccPat = Pii.patterns.toMap.apply("cc")
  private val digitPat = Pii.patterns.toMap.apply("digit_run")

  // deterministic PII injection — Spark side
  private def augmented(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), concat(
      col("text"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" reach me at user"), col("doc_id").cast("string"),
          lit("@mail-example.com today"))).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        concat(lit(" call +1-555-"),
          (pmod(col("doc_id"), lit(9000)) + 1000).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(13)) === 0,
        concat(lit(" from host 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"), lit("."),
          pmod(col("doc_id") * 7, lit(256)).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(17)) === 0,
        concat(lit(" acct 4"),
          (col("doc_id") + lit(9000000000000L)).cast("string")))
        .otherwise(lit(""))).as("text"))

  // identical injection — DuckDB side
  private val augSql = """
        aug AS (
          SELECT doc_id, text
            || CASE WHEN doc_id % 7 = 0
                    THEN ' reach me at user' || doc_id || '@mail-example.com today'
                    ELSE '' END
            || CASE WHEN doc_id % 11 = 0
                    THEN ' call +1-555-' || (doc_id % 9000 + 1000)
                    ELSE '' END
            || CASE WHEN doc_id % 13 = 0
                    THEN ' from host 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                    ELSE '' END
            || CASE WHEN doc_id % 17 = 0
                    THEN ' acct 4' || (doc_id + 9000000000000)
                    ELSE '' END AS text
          FROM documents)"""

  // ── q406 checksum-audit machinery ──────────────────────────────────
  // Deterministic PII planting with COMPUTED check digits: each planted
  // credit card carries a Luhn check digit derived from its own 15-digit
  // base, each planted IBAN carries ISO-7064 mod-97 check digits derived
  // from its BBAN — and each class also plants shape-identical DECOYS
  // whose checksum is deliberately broken, so the audit measures what a
  // validator buys over the bare shape regex.

  /** DuckDB Luhn sum over the first `n` digits of string expr `x`
    * (doubling the odd left-positions — the 16-wide parity). */
  private def luhnSumSql(x: String, n: Int): String =
    (1 to n).map { i =>
      val d = s"CAST(substring($x, $i, 1) AS INT)"
      if (i % 2 == 1) s"(CASE WHEN 2 * $d > 9 THEN 2 * $d - 9 ELSE 2 * $d END)"
      else d
    }.mkString("(", " + ", ")")

  private def luhnValidSql(x: String): String =
    s"${luhnSumSql(x, 16)} % 10 = 0"

  /** DuckDB mod-97 fold over a 24-digit string expr (9/9/6 chunks). */
  private def mod97Sql(num: String): String = {
    val r1 = s"(CAST(substring($num, 1, 9) AS BIGINT) % 97)"
    val r2 = s"(($r1 * 1000000000 + CAST(substring($num, 10, 9) AS BIGINT)) % 97)"
    s"(($r2 * 1000000 + CAST(substring($num, 19, 6) AS BIGINT)) % 97)"
  }

  private def ibanValidSql(x: String): String =
    mod97Sql(s"(substring($x, 5, 18) || '1314' || substring($x, 3, 2))") + " = 1"

  /** The full 6-class redaction chain in DuckDB — byte-identical to
    * [[Pii.redactText]]'s fixed class order. */
  private def redactChainSql(x: String): String =
    Pii.patterns.foldLeft(x) { case (acc, (cls, pat)) =>
      s"regexp_replace($acc, '$pat', '<${cls.toUpperCase}>', 'g')"
    }

  // identical planting — Spark side (Column arithmetic)
  private def plantedDocs(docs: org.apache.spark.sql.DataFrame) = {
    val b15 = lpad(((col("doc_id") * 7919 + 13) % 1000000000000000L)
      .cast("string"), 15, "0")
    val s15 = (1 to 15).map { i =>
      val d = substring(b15, i, 1).cast("int")
      if (i % 2 == 1) when(d * 2 > 9, d * 2 - 9).otherwise(d * 2) else d
    }.reduce(_ + _)
    val chk = (lit(10) - s15 % 10) % 10
    val ccv = concat(b15, chk.cast("string"))
    val ccd = concat(b15, ((chk + 5) % 10).cast("string"))
    val bban = lpad(((col("doc_id") * 104729 + 7) % 1000000000000000000L)
      .cast("string"), 18, "0")
    val n0 = concat(bban, lit("131400"))
    val r1 = substring(n0, 1, 9).cast("long") % 97
    val r2 = (r1 * 1000000000L + substring(n0, 10, 9).cast("long")) % 97
    val rr = (r2 * 1000000L + substring(n0, 19, 6).cast("long")) % 97
    val kk = lit(98) - rr
    val ibv = concat(lit("DE"), lpad(kk.cast("string"), 2, "0"), bban)
    val kkBad = when(kk < 98, kk + 1).otherwise(lit(2))
    val ibd = concat(lit("DE"), lpad(kkBad.cast("string"), 2, "0"), bban)
    docs.select(col("doc_id"),
      concat(col("text"),
        when(pmod(col("doc_id"), lit(6)) === 0,
          concat(lit(" card "), ccv)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(6)) === 2,
          concat(lit(" card "), ccd)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(8)) === 0,
          concat(lit(" iban "), ibv)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(8)) === 4,
          concat(lit(" iban "), ibd)).otherwise(lit(""))).as("text"),
      (pmod(col("doc_id"), lit(6)) === 0).cast("long").as("p_cc_valid"),
      (pmod(col("doc_id"), lit(6)) === 2).cast("long").as("p_cc_decoy"),
      (pmod(col("doc_id"), lit(8)) === 0).cast("long").as("p_iban_valid"),
      (pmod(col("doc_id"), lit(8)) === 4).cast("long").as("p_iban_decoy"))
  }

  // identical planting — DuckDB side
  private val plantSql = s"""
        plant AS (
          SELECT doc_id, text,
                 lpad(CAST((doc_id * 7919 + 13) % 1000000000000000 AS VARCHAR), 15, '0') AS b15,
                 lpad(CAST((doc_id * 104729 + 7) % 1000000000000000000 AS VARCHAR), 18, '0') AS bban
          FROM documents),
        plant2 AS (
          SELECT *, (10 - ${luhnSumSql("b15", 15)} % 10) % 10 AS chk,
                 ${mod97Sql("(bban || '131400')")} AS rr
          FROM plant),
        plant3 AS (
          SELECT doc_id, text,
                 b15 || CAST(chk AS VARCHAR) AS ccv,
                 b15 || CAST((chk + 5) % 10 AS VARCHAR) AS ccd,
                 'DE' || lpad(CAST(98 - rr AS VARCHAR), 2, '0') || bban AS ibv,
                 'DE' || lpad(CAST(CASE WHEN 98 - rr < 98 THEN 98 - rr + 1
                                        ELSE 2 END AS VARCHAR), 2, '0') || bban AS ibd
          FROM plant2),
        aug AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 6 = 0 THEN ' card ' || ccv ELSE '' END
                 || CASE WHEN doc_id % 6 = 2 THEN ' card ' || ccd ELSE '' END
                 || CASE WHEN doc_id % 8 = 0 THEN ' iban ' || ibv ELSE '' END
                 || CASE WHEN doc_id % 8 = 4 THEN ' iban ' || ibd ELSE '' END AS text,
                 CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS p_cc_valid,
                 CASE WHEN doc_id % 6 = 2 THEN 1 ELSE 0 END AS p_cc_decoy,
                 CASE WHEN doc_id % 8 = 0 THEN 1 ELSE 0 END AS p_iban_valid,
                 CASE WHEN doc_id % 8 = 4 THEN 1 ELSE 0 END AS p_iban_decoy
          FROM plant3)"""

  val defs: Seq[QueryDef] = Seq(

    // PII SCAN: per-class documents-hit + match counts over the
    // augmented corpus. Map-only (regexp_extract_all projections, no
    // shuffle until the one-row rollup) — at 100 TB this is a scan-cost
    // pass. The oracle recomputes every pattern with RE2.
    QueryDef(
      "q397_pii_scan",
      (s, dir) => {
        // every class's two sums in ONE aggregate over one scan, then
        // unpivoted to a row per class
        val sc = Pii.scan(augmented(Tables.documents(s, dir)), "text")
        val sums = Pii.patterns.map { case (cls, _) =>
          struct(
            sum(when(col(s"${cls}_n") > 0, 1L).otherwise(0L)).as("docs_hit"),
            sum(col(s"${cls}_n").cast("long")).as("matches")).as(cls)
        }
        sc.agg(sums.head, sums.tail: _*)
          .unpivot(Array.empty[Column], Pii.patterns.map(p => col(p._1)).toArray,
            "pii_class", "v")
          .select(col("pii_class"), col("v.docs_hit").as("docs_hit"),
            col("v.matches").as("matches"))
          .orderBy(col("pii_class"))
      },
      Some(s"""
        WITH $augSql,
        m AS (SELECT doc_id,
                     len(regexp_extract_all(text, '$emailPat')) AS email_n,
                     len(regexp_extract_all(text, '$phonePat')) AS phone_n,
                     len(regexp_extract_all(text, '$ipv4Pat')) AS ipv4_n,
                     len(regexp_extract_all(text, '$ibanPat')) AS iban_n,
                     len(regexp_extract_all(text, '$ccPat')) AS cc_n,
                     len(regexp_extract_all(text, '$digitPat')) AS digit_run_n
              FROM aug)
        SELECT 'email' AS pii_class,
               CAST(SUM(CASE WHEN email_n > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
               CAST(SUM(email_n) AS BIGINT) AS matches FROM m
        UNION ALL
        SELECT 'phone', CAST(SUM(CASE WHEN phone_n > 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(phone_n) AS BIGINT) FROM m
        UNION ALL
        SELECT 'ipv4', CAST(SUM(CASE WHEN ipv4_n > 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(ipv4_n) AS BIGINT) FROM m
        UNION ALL
        SELECT 'iban', CAST(SUM(CASE WHEN iban_n > 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(iban_n) AS BIGINT) FROM m
        UNION ALL
        SELECT 'cc', CAST(SUM(CASE WHEN cc_n > 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(cc_n) AS BIGINT) FROM m
        UNION ALL
        SELECT 'digit_run', CAST(SUM(CASE WHEN digit_run_n > 0 THEN 1 ELSE 0 END) AS BIGINT),
               CAST(SUM(digit_run_n) AS BIGINT) FROM m
        ORDER BY pii_class""")),

    // PII REDACTION: rewrite every class to its placeholder (fixed
    // order), then PROVE the scrub — residual matches over the redacted
    // text must be zero, and both engines agree on how many documents
    // changed and by how many characters. Length arithmetic is integer.
    QueryDef(
      "q398_pii_redact",
      (s, dir) => {
        val red = Pii.redact(augmented(Tables.documents(s, dir)), "text")
        val res = Pii.scan(red.select(col("doc_id"), col("text"),
          col("text_raw")), "text")
        res.agg(
          sum(when(col("text") =!= col("text_raw"), 1L).otherwise(0L))
            .as("docs_redacted"),
          sum((length(col("text_raw")) - length(col("text"))).cast("long"))
            .as("chars_removed"),
          sum(col("pii_total").cast("long")).as("residual_matches"))
      },
      Some(s"""
        WITH $augSql,
        red AS (
          SELECT doc_id, text AS text_raw,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text, '$emailPat', '<EMAIL>', 'g'),
                           '$phonePat', '<PHONE>', 'g'),
                         '$ipv4Pat', '<IPV4>', 'g'),
                       '$ibanPat', '<IBAN>', 'g'),
                     '$ccPat', '<CC>', 'g'),
                   '$digitPat', '<DIGIT_RUN>', 'g') AS text
          FROM aug)
        SELECT CAST(SUM(CASE WHEN text <> text_raw THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted,
               CAST(SUM(length(text_raw) - length(text)) AS BIGINT) AS chars_removed,
               CAST(SUM(len(regexp_extract_all(text, '$emailPat'))
                      + len(regexp_extract_all(text, '$phonePat'))
                      + len(regexp_extract_all(text, '$ipv4Pat'))
                      + len(regexp_extract_all(text, '$ibanPat'))
                      + len(regexp_extract_all(text, '$ccPat'))
                      + len(regexp_extract_all(text, '$digitPat'))) AS BIGINT) AS residual_matches
        FROM red""")),

    // CHECKSUM-VALIDATED PII with a planted precision/recall audit: the
    // corpus gets valid cards/IBANs (computed check digits) AND
    // shape-identical decoys (broken checksums). Detection = shape
    // extract → checksum filter; class precedence = redaction order (cc
    // candidates are taken from IBAN-redacted text, since an IBAN's
    // digit tail shape-matches the cc pattern). The audit emits, per
    // class: planted counts, shape vs validated detections, true
    // positives, precision/recall (ppm), and the post-redaction residual
    // of VALID instances — which must be 0 (shape redaction is a
    // superset of validated detection). A validator that ignored
    // checksums would count every decoy and halve precision; this gate
    // measures exactly that gap (shape_detected vs valid_detected).
    QueryDef(
      "q406_pii_checksum_audit",
      (s, dir) => {
        val aug = plantedDocs(Tables.documents(s, dir))
        val m = aug
          .withColumn("iban_shape_n",
            size(regexp_extract_all(col("text"), lit(ibanPat), lit(0))).cast("long"))
          .withColumn("iban_valid_n",
            Pii.validMatchCount(col("text"), "iban").cast("long"))
          .withColumn("t_cc", regexp_replace(col("text"), ibanPat, "<IBAN>"))
          .withColumn("cc_shape_n",
            size(regexp_extract_all(col("t_cc"), lit(ccPat), lit(0))).cast("long"))
          .withColumn("cc_valid_n",
            Pii.validMatchCount(col("t_cc"), "cc").cast("long"))
          .withColumn("t_red", Pii.redactText(col("text")))
          .withColumn("cc_resid_n",
            Pii.validMatchCount(col("t_red"), "cc").cast("long"))
          .withColumn("iban_resid_n",
            Pii.validMatchCount(col("t_red"), "iban").cast("long"))
        def leg(cls: String, pv: String, pd: String, sh: String,
            vd: String, rs: String) =
          m.agg(
            sum(col(pv)).as("planted_valid"),
            sum(col(pd)).as("planted_decoys"),
            sum(col(sh)).as("shape_detected"),
            sum(col(vd)).as("valid_detected"),
            sum(least(col(pv), col(vd))).as("tp"),
            sum(col(rs)).as("residual_valid"))
            .select(lit(cls).as("pii_class"),
              col("planted_valid"), col("planted_decoys"),
              col("shape_detected"), col("valid_detected"), col("tp"),
              expr("tp * 1000000 div valid_detected").as("precision_ppm"),
              expr("tp * 1000000 div planted_valid").as("recall_ppm"),
              col("residual_valid"))
        leg("cc", "p_cc_valid", "p_cc_decoy", "cc_shape_n", "cc_valid_n",
            "cc_resid_n")
          .unionByName(leg("iban", "p_iban_valid", "p_iban_decoy",
            "iban_shape_n", "iban_valid_n", "iban_resid_n"))
          .orderBy(col("pii_class"))
      },
      Some(s"""
        WITH $plantSql,
        m AS (
          SELECT doc_id, p_cc_valid, p_cc_decoy, p_iban_valid, p_iban_decoy,
                 len(regexp_extract_all(text, '$ibanPat')) AS iban_shape_n,
                 len(list_filter(regexp_extract_all(text, '$ibanPat'),
                     x -> ${ibanValidSql("x")})) AS iban_valid_n,
                 regexp_replace(text, '$ibanPat', '<IBAN>', 'g') AS t_cc,
                 ${redactChainSql("text")} AS t_red
          FROM aug),
        m2 AS (
          SELECT *,
                 len(regexp_extract_all(t_cc, '$ccPat')) AS cc_shape_n,
                 len(list_filter(regexp_extract_all(t_cc, '$ccPat'),
                     x -> ${luhnValidSql("x")})) AS cc_valid_n,
                 len(list_filter(regexp_extract_all(t_red, '$ccPat'),
                     x -> ${luhnValidSql("x")})) AS cc_resid_n,
                 len(list_filter(regexp_extract_all(t_red, '$ibanPat'),
                     x -> ${ibanValidSql("x")})) AS iban_resid_n
          FROM m)
        SELECT 'cc' AS pii_class,
               CAST(SUM(p_cc_valid) AS BIGINT) AS planted_valid,
               CAST(SUM(p_cc_decoy) AS BIGINT) AS planted_decoys,
               CAST(SUM(cc_shape_n) AS BIGINT) AS shape_detected,
               CAST(SUM(cc_valid_n) AS BIGINT) AS valid_detected,
               CAST(SUM(least(p_cc_valid, cc_valid_n)) AS BIGINT) AS tp,
               CAST(SUM(least(p_cc_valid, cc_valid_n)) * 1000000
                 // SUM(cc_valid_n) AS BIGINT) AS precision_ppm,
               CAST(SUM(least(p_cc_valid, cc_valid_n)) * 1000000
                 // SUM(p_cc_valid) AS BIGINT) AS recall_ppm,
               CAST(SUM(cc_resid_n) AS BIGINT) AS residual_valid
        FROM m2
        UNION ALL
        SELECT 'iban',
               CAST(SUM(p_iban_valid) AS BIGINT),
               CAST(SUM(p_iban_decoy) AS BIGINT),
               CAST(SUM(iban_shape_n) AS BIGINT),
               CAST(SUM(iban_valid_n) AS BIGINT),
               CAST(SUM(least(p_iban_valid, iban_valid_n)) AS BIGINT),
               CAST(SUM(least(p_iban_valid, iban_valid_n)) * 1000000
                 // SUM(iban_valid_n) AS BIGINT),
               CAST(SUM(least(p_iban_valid, iban_valid_n)) * 1000000
                 // SUM(p_iban_valid) AS BIGINT),
               CAST(SUM(iban_resid_n) AS BIGINT)
        FROM m2
        ORDER BY pii_class""")))
}
