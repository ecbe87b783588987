package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, Text, Vec}
import graft.operators.{AllPairs, Boilerplate, Classify, Dedup, Mix, Multimodal, Sessionize, Similarity, SuffixArray}
import graft.pipeline.{Fill, GoldenRecord, Validate}

import graft.queries.Queries.QueryDef
import graft.queries.Shared._

/** The contacts-pipeline operator families: golden record, validation, correlated fill, entity resolution / linkage.
  *
  * One registry shard of [[Queries.all]] — same QueryDef/oracle
  * conventions (see [[Queries]]'s scaladoc); split from the single
  * 11.6k-line Queries.scala in round 16 for maintainability. */
private[queries] object QueriesContacts {

  def defs: Seq[QueryDef] = Seq(


    // ---------------------------------------------------------------------
    // q11: conditional aggregation (A4: one pass, many conditional counts).
    QueryDef("q11_status_matrix",
      (s, dir) => {
        val o = t(s, dir, "orders")
        o.groupBy(col("o_orderpriority"))
          .agg(count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
            count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
            count(when(col("o_orderstatus") === "P", 1)).as("n_p"),
            count(lit(1)).as("n_total"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority,
             |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
             |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
             |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
             |  count(*) AS n_total
             |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),


    // ---------------------------------------------------------------------
    // q12: the golden-record mostComplete aggregate (A1) — longest value wins,
    // ties -> earliest row — via the library's row-wide GoldenMerge
    // aggregate (an ObjectHashAggregate with partial aggregation: one
    // shuffle of per-group winners, no sort of the input rows).
    QueryDef("q12_golden_name",
      (s, dir) => {
        val c = t(s, dir, "customer")
        c.groupBy(col("c_nationkey"))
          .agg(GoldenRecord.mostComplete(col("c_name"),
              lit(null).cast("timestamp"), col("c_custkey")).as("best_name"),
            count(lit(1)).as("n_customers"))
          .orderBy(col("c_nationkey"))
      },
      Some("""SELECT c_nationkey, best_name, n_customers FROM (
             |  SELECT c_nationkey, c_name AS best_name,
             |    count(*) OVER (PARTITION BY c_nationkey) AS n_customers,
             |    row_number() OVER (PARTITION BY c_nationkey
             |      ORDER BY length(c_name) DESC, c_custkey ASC) AS rn
             |  FROM customer)
             |WHERE rn = 1 ORDER BY c_nationkey""".stripMargin)),


    // ---------------------------------------------------------------------
    // q13: the validation stage (F1/F2/F4/F5) over a contacts-shaped frame
    // derived deterministically from customer. Exercises the real library
    // rules; the SQL twin re-states them relationally.
    QueryDef("q13_validate_contacts",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val contacts = c.select(
          col("c_custkey").cast("long").as("row_id"),
          when(col("c_custkey") % 7 === 0, lit(null))
            .otherwise(concat(lit("Cust"), col("c_custkey"))).as("FIRSTNAME"),
          when(col("c_custkey") % 11 === 0, lit(""))
            .otherwise(concat(lit("Key"), col("c_custkey"))).as("LASTNAME"),
          when(col("c_custkey") % 5 === 0, lit(null))
            .when(col("c_custkey") % 10 === 3, lit("bad-email"))
            .otherwise(concat(lit("user"), col("c_custkey"), lit("@ex.com")))
            .as("EMAIL"),
          when(col("c_custkey") % 6 === 0, lit(null))
            .when(col("c_custkey") % 6 === 1, lit("12345"))
            .otherwise(concat(lit("555000"), lpad(col("c_custkey").cast("string"), 6, "0")))
            .as("MOBILE"))
        Validate.errors(contacts).orderBy(col("row_id"), col("field"), col("error"))
      },
      Some("""WITH contacts AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS row_id,
             |    CASE WHEN c_custkey % 7 = 0 THEN NULL
             |         ELSE 'Cust' || c_custkey END AS firstname,
             |    CASE WHEN c_custkey % 11 = 0 THEN ''
             |         ELSE 'Key' || c_custkey END AS lastname,
             |    CASE WHEN c_custkey % 5 = 0 THEN NULL
             |         WHEN c_custkey % 10 = 3 THEN 'bad-email'
             |         ELSE 'user' || c_custkey || '@ex.com' END AS email,
             |    CASE WHEN c_custkey % 6 = 0 THEN NULL
             |         WHEN c_custkey % 6 = 1 THEN '12345'
             |         ELSE '555000' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') END AS mobile
             |  FROM customer),
             |flags AS (
             |  SELECT *,
             |    trim(concat_ws(' ', trim(coalesce(firstname, '')),
             |      trim(coalesce(lastname, '')))) AS full_name,
             |    (firstname IS NULL OR trim(firstname) = ''
             |      OR lower(trim(firstname)) = 'nan') AS rm_first,
             |    (lastname IS NULL OR trim(lastname) = ''
             |      OR lower(trim(lastname)) = 'nan') AS rm_last,
             |    (email IS NULL OR trim(email) = ''
             |      OR lower(trim(email)) = 'nan') AS rm_email,
             |    (mobile IS NULL OR trim(mobile) = ''
             |      OR lower(trim(mobile)) = 'nan') AS rm_phone,
             |    coalesce(trim(mobile) <> '' AND lower(trim(mobile)) <> 'nan',
             |      false) AS phone_present
             |  FROM contacts),
             |kept AS (
             |  SELECT * FROM flags
             |  WHERE NOT ((rm_first AND rm_last AND rm_email AND rm_phone)
             |    OR full_name = '' OR lower(full_name) IN ('nan nan', 'nan'))),
             |errs AS (
             |  SELECT row_id, 'FIRSTNAME' AS field,
             |    'Missing FIRSTNAME' AS error, coalesce(firstname, '') AS value
             |  FROM kept WHERE firstname IS NULL OR trim(firstname) = ''
             |  UNION ALL
             |  SELECT row_id, 'LASTNAME', 'Missing LASTNAME', coalesce(lastname, '')
             |  FROM kept WHERE lastname IS NULL OR trim(lastname) = ''
             |  UNION ALL
             |  SELECT row_id, 'EMAIL', 'Missing EMAIL', coalesce(email, '')
             |  FROM kept WHERE email IS NULL OR trim(email) = ''
             |  UNION ALL
             |  SELECT row_id, 'EMAIL', 'Invalid email format', coalesce(email, '')
             |  FROM kept WHERE NOT (email IS NULL OR trim(email) = '')
             |    AND NOT regexp_matches(lower(trim(email)), '^[^@]+@[^@]+\.[^@]+')
             |  UNION ALL
             |  SELECT row_id, 'MOBILE', 'Invalid phone in MOBILE', coalesce(mobile, '')
             |  FROM kept WHERE trim(mobile) <> '' AND lower(trim(mobile)) <> 'nan'
             |    AND length(regexp_replace(mobile, '[^0-9]', '', 'g')) NOT BETWEEN 7 AND 15
             |  UNION ALL
             |  SELECT row_id, 'PHONE',
             |    'Missing phone number (MOBILE, DIRECTPHONE, or HOMEPHONE)', ''
             |  FROM kept WHERE NOT phone_present)
             |SELECT row_id, field, error, value FROM errs
             |ORDER BY row_id, field, error""".stripMargin)),


    // ---------------------------------------------------------------------
    // q14: 2-key correlated-lookup fill (J1, the Mailchimp special case):
    // fill missing emails from a source by exact (name, phone) match,
    // first source row wins, via the library's broadcast-join operator.
    QueryDef("q14_fill_twokey",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val master = c.select(
          col("c_custkey").cast("long").as("row_id"),
          Cleaning.normName(col("c_name")).as("_name"),
          when(col("c_custkey") % 3 === 0, lit(""))
            .otherwise(concat(lit("u"), col("c_custkey"), lit("@ex.com")))
            .as("email"),
          concat(lit("555"), lpad(col("c_custkey").cast("string"), 7, "0"))
            .as("mobile"))
          .withColumn("_email", Cleaning.normEmail(col("email")))
          .withColumn("_phone", Cleaning.normPhone(col("mobile")))
        // source knows emails for even custkeys, keyed by (name, phone)
        val mc = c.filter(col("c_custkey") % 2 === 0).select(
          col("c_custkey").cast("long").as("src_order"),
          Cleaning.normName(col("c_name")).as("_name"),
          concat(lit("filled"), col("c_custkey"), lit("@mc.com")).as("email"),
          lit("").as("mobile"),
          Cleaning.normPhone(concat(lit("555"),
            lpad(col("c_custkey").cast("string"), 7, "0"))).as("_phone"))
          .withColumn("_email", Cleaning.normEmail(col("email")))
        Fill.mailchimpFill(master, mc)
          .select(col("row_id"), col("email"), col("mobile"))
          .orderBy(col("row_id"))
      },
      Some("""WITH master AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS row_id,
             |    lower(trim(regexp_replace(c_name, '\s+', ' ', 'g'))) AS _name,
             |    CASE WHEN c_custkey % 3 = 0 THEN ''
             |         ELSE 'u' || c_custkey || '@ex.com' END AS email,
             |    '555' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS mobile
             |  FROM customer),
             |mkeys AS (
             |  SELECT *, CASE WHEN length(regexp_replace(mobile, '[^0-9]', '', 'g')) >= 10
             |    THEN right(regexp_replace(mobile, '[^0-9]', '', 'g'), 10)
             |    ELSE regexp_replace(mobile, '[^0-9]', '', 'g') END AS _phone
             |  FROM master),
             |src AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS src_order,
             |    lower(trim(regexp_replace(c_name, '\s+', ' ', 'g'))) AS _name,
             |    'filled' || c_custkey || '@mc.com' AS s_email,
             |    CASE WHEN length(regexp_replace('555' || lpad(CAST(c_custkey AS VARCHAR), 7, '0'), '[^0-9]', '', 'g')) >= 10
             |      THEN right('555' || lpad(CAST(c_custkey AS VARCHAR), 7, '0'), 10)
             |      ELSE '555' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') END AS _phone,
             |    row_number() OVER (
             |      PARTITION BY lower(trim(regexp_replace(c_name, '\s+', ' ', 'g'))),
             |        CASE WHEN length(regexp_replace('555' || lpad(CAST(c_custkey AS VARCHAR), 7, '0'), '[^0-9]', '', 'g')) >= 10
             |          THEN right('555' || lpad(CAST(c_custkey AS VARCHAR), 7, '0'), 10)
             |          ELSE '555' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') END
             |      ORDER BY c_custkey ASC) AS rn
             |  FROM customer WHERE c_custkey % 2 = 0)
             |SELECT m.row_id,
             |  CASE WHEN m.email IS NULL OR trim(m.email) = ''
             |         OR trim(m.email) IN ('nan','None','NaN')
             |       THEN coalesce(s.s_email, m.email) ELSE m.email END AS email,
             |  m.mobile
             |FROM mkeys m
             |LEFT JOIN (SELECT * FROM src WHERE rn = 1) s
             |  ON m._name = s._name AND m._phone = s._phone
             |ORDER BY m.row_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q27: multi-column golden-record merge with the full tie-break chain:
    // longest valid value -> latest timestamp -> earliest row; sentinel
    // values ("", "nan") excluded; all-missing groups yield null.
    QueryDef("q27_golden_contacts",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val base = c.select(
          col("c_custkey").cast("long").as("row_id"),
          (col("c_custkey") % 211).as("grp"),
          when(col("c_custkey") % 13 === 0, lit(""))
            .when(col("c_custkey") % 17 === 0, lit("nan"))
            .otherwise(concat(col("c_mktsegment"), lit("-"),
              col("c_custkey").cast("string"))).as("addr"),
          when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
            .otherwise(concat(lit("555-"),
              (col("c_custkey") % 10000).cast("string"))).as("phone"),
          timestamp_seconds(lit(1577836800L) + col("c_custkey")).as("ts"))
        base.groupBy(col("grp"))
          .agg(
            GoldenRecord.mostComplete(col("addr"), col("ts"), col("row_id"))
              .as("best_addr"),
            GoldenRecord.mostComplete(col("phone"), col("ts"), col("row_id"))
              .as("best_phone"),
            count(lit(1)).as("n_rows"))
          .orderBy(col("grp"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS row_id,
             |    c_custkey % 211 AS grp,
             |    CASE WHEN c_custkey % 13 = 0 THEN ''
             |         WHEN c_custkey % 17 = 0 THEN 'nan'
             |         ELSE c_mktsegment || '-' || c_custkey END AS addr,
             |    CASE WHEN c_custkey % 7 = 0 THEN NULL
             |         ELSE '555-' || (c_custkey % 10000) END AS phone,
             |    to_timestamp(1577836800 + c_custkey) AS ts
             |  FROM customer),
             |a AS (SELECT grp, addr, row_number() OVER (PARTITION BY grp
             |    ORDER BY length(addr) DESC, ts DESC, row_id ASC) AS rn
             |  FROM base WHERE addr IS NOT NULL AND trim(addr) <> ''
             |    AND trim(addr) NOT IN ('nan', 'None', 'NaN')),
             |p AS (SELECT grp, phone, row_number() OVER (PARTITION BY grp
             |    ORDER BY length(phone) DESC, ts DESC, row_id ASC) AS rn
             |  FROM base WHERE phone IS NOT NULL AND trim(phone) <> ''
             |    AND trim(phone) NOT IN ('nan', 'None', 'NaN')),
             |g AS (SELECT grp, count(*) AS n_rows FROM base GROUP BY grp)
             |SELECT g.grp, a.addr AS best_addr, p.phone AS best_phone, g.n_rows
             |FROM g
             |LEFT JOIN (SELECT grp, addr FROM a WHERE rn = 1) a USING (grp)
             |LEFT JOIN (SELECT grp, phone FROM p WHERE rn = 1) p USING (grp)
             |ORDER BY g.grp""".stripMargin)),


    // ---------------------------------------------------------------------
    // q33: blocked fuzzy (Levenshtein) matching — the scalable form of the
    // reference's latent fuzzywuzzy intent. Typo'd copies are planted; the
    // suffix block key is typo-tolerant, so candidates meet in a bucket
    // shuffle, never a cross join.
    QueryDef("q33_fuzzy_pairs",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val base = c.select(col("c_custkey").cast("long").as("id"),
          concat(lit("cust"), col("c_custkey").cast("string")).as("name"))
        val dirty = base.filter(col("id") % 4 === 0)
          .select((col("id") + 1000000).as("id"),
            regexp_replace(col("name"), "^cust", "cusst").as("name"))
        val all = base.unionByName(dirty)
        graft.operators.Fuzzy.blockedPairs(all, "id", "name",
            substring(col("name"), -4, 4), maxDist = 1)
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS id,
             |    'cust' || c_custkey AS name FROM customer),
             |dirty AS (
             |  SELECT id + 1000000 AS id,
             |    regexp_replace(name, '^cust', 'cusst') AS name
             |  FROM base WHERE id % 4 = 0),
             |allr AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
             |blocked AS (SELECT id, name, right(name, 4) AS blk FROM allr)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  levenshtein(a.name, b.name) AS dist
             |FROM blocked a JOIN blocked b
             |  ON a.blk = b.blk AND a.id < b.id
             |WHERE levenshtein(a.name, b.name) <= 1
             |ORDER BY id_a, id_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q56: PII redaction (emails + NANP phones -> typed placeholders) — the
    // scrubbing step of a training-data pipeline. The corpus text carries no
    // PII, so each doc gets a deterministic planted email+phone (same
    // construction in the oracle); the redactor must find and replace
    // exactly those. Pure per-row regex columns — no shuffle.
    QueryDef("q56_pii_redact",
      (s, dir) => {
        val d = t(s, dir, "documents")
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(" or call 555-867-"))
            .otherwise(lit(" or call +1-555-867-")),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
        d.select(col("doc_id"),
            Text.emailCount(planted).cast("long").as("n_emails"),
            Text.phoneCount(planted).cast("long").as("n_phones"),
            md5(Text.redactPii(planted)).as("redacted_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (
             |  SELECT doc_id,
             |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             |    '@example.com' ||
             |    CASE WHEN doc_id % 2 = 0 THEN ' or call 555-867-'
             |         ELSE ' or call +1-555-867-' END ||
             |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t2
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             |    AS n_emails,
             |  CAST(len(regexp_extract_all(t2,
             |    '(\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}'))
             |    AS BIGINT) AS n_phones,
             |  md5(regexp_replace(regexp_replace(t2,
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             |    '<EMAIL>', 'g'),
             |    '(\+?1[-. ])?\(?[0-9]{3}\)?[-. ][0-9]{3}[-. ][0-9]{4}',
             |    '<PHONE>', 'g')) AS redacted_md5
             |FROM p ORDER BY doc_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q69: the reference's CENTERPIECE fill, oracle-backed end to end (J2 +
    // F7 + J4 + X6; fill_missing_contacts.py:47-138, first-match :134-136):
    // three per-field hash indexes -> union of three equi-joins, >=2-of-3
    // exact-match verification, first-match-wins by source order, coalesce
    // into missing cells only, change-log provenance folded into the graded
    // output (filled_fields + matched_on columns). Synthetic master/source
    // both derive from customer: master misses emails (key%3=0) and phones
    // (key%5=0); missing emails fill via name+phone sources (two eligible
    // sources for key%4=0 rows must resolve to the EARLIER src_order);
    // missing phones fill via a name+email source (key%7=0); a name-only
    // decoy source carries the globally earliest src_order, so it wins
    // whenever the >=2-of-3 threshold fails to reject it — the oracle makes
    // the verification rule load-bearing, not decorative.
    QueryDef("q69_fill_threekey",
      (s, dir) => {
        val c = t(s, dir, "customer")
          .select(col("c_custkey").cast("long").as("k"), col("c_name"))
        def pad(prefix: String) =
          concat(lit(prefix), lpad(col("k").cast("string"), 7, "0"))
        val master = Fill.withMatchKeys(
          c.select(col("k").as("row_id"), col("c_name").as("name"),
            when(col("k") % 3 === 0, lit(""))
              .otherwise(concat(lit("u"), col("k"), lit("@ex.com")))
              .as("email"),
            when(col("k") % 5 === 0, lit("")).otherwise(pad("555"))
              .as("mobile")),
          col("name"), col("email"), col("mobile"))
        def src(mod: Int, order: Column, email: Column, mobile: Column) =
          Fill.withMatchKeys(
            c.filter(col("k") % mod === 0)
              .select(order.as("src_order"), col("c_name").as("name"),
                email.as("email"), mobile.as("mobile")),
            col("name"), col("email"), col("mobile"))
        // src_order lanes are disjoint mod 10, so every source row has a
        // globally unique order and first-match-wins is deterministic
        val source =
          src(2, col("k") * 10 + 2,
              concat(lit("filla"), col("k"), lit("@s.com")), pad("555"))
            .unionByName(src(4, col("k") * 10 + 1,
              concat(lit("fillb"), col("k"), lit("@s.com")), pad("555")))
            .unionByName(src(7, col("k") * 10 + 5,
              concat(lit("u"), col("k"), lit("@ex.com")), pad("777")))
            .unionByName(src(6, col("k") * 10,
              concat(lit("zz"), col("k"), lit("@bad.com")), pad("999")))
        val r = Fill.fillFromSource(master, source,
          Map("email" -> "email", "mobile" -> "mobile"), "threekey_src")
        val prov = r.changeLog.groupBy(col("row_id"))
          .agg(array_join(array_sort(collect_list(col("field"))), ",")
              .as("filled_fields"),
            max(col("matched_on")).as("matched_on"))
        r.filled.select("row_id", "email", "mobile")
          .join(prov, Seq("row_id"), "left")
          .orderBy(col("row_id"))
      },
      Some("""WITH c AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS k,
             |    lower(trim(regexp_replace(c_name, '\s+', ' ', 'g'))) AS _name
             |  FROM customer),
             |mk AS (
             |  SELECT k AS row_id, _name,
             |    CASE WHEN k % 3 = 0 THEN '' ELSE 'u' || k || '@ex.com' END AS email,
             |    CASE WHEN k % 5 = 0 THEN ''
             |         ELSE '555' || lpad(CAST(k AS VARCHAR), 7, '0') END AS mobile
             |  FROM c),
             |mkk AS (
             |  SELECT row_id, _name, email, mobile,
             |    lower(trim(email)) AS _email,
             |    CASE WHEN length(regexp_replace(mobile, '[^0-9]', '', 'g')) >= 10
             |      THEN right(regexp_replace(mobile, '[^0-9]', '', 'g'), 10)
             |      ELSE regexp_replace(mobile, '[^0-9]', '', 'g') END AS _phone,
             |    (trim(email) = '') AS no_email,
             |    (trim(mobile) = '') AS no_mobile
             |  FROM mk),
             |rawsrc AS (
             |  SELECT k * 10 + 2 AS src_order, _name,
             |    'filla' || k || '@s.com' AS email,
             |    '555' || lpad(CAST(k AS VARCHAR), 7, '0') AS mobile
             |  FROM c WHERE k % 2 = 0
             |  UNION ALL
             |  SELECT k * 10 + 1, _name, 'fillb' || k || '@s.com',
             |    '555' || lpad(CAST(k AS VARCHAR), 7, '0') FROM c WHERE k % 4 = 0
             |  UNION ALL
             |  SELECT k * 10 + 5, _name, 'u' || k || '@ex.com',
             |    '777' || lpad(CAST(k AS VARCHAR), 7, '0') FROM c WHERE k % 7 = 0
             |  UNION ALL
             |  SELECT k * 10, _name, 'zz' || k || '@bad.com',
             |    '999' || lpad(CAST(k AS VARCHAR), 7, '0') FROM c WHERE k % 6 = 0),
             |sk AS (
             |  SELECT src_order, _name, email, mobile,
             |    lower(trim(email)) AS _email,
             |    CASE WHEN length(regexp_replace(mobile, '[^0-9]', '', 'g')) >= 10
             |      THEN right(regexp_replace(mobile, '[^0-9]', '', 'g'), 10)
             |      ELSE regexp_replace(mobile, '[^0-9]', '', 'g') END AS _phone
             |  FROM rawsrc),
             |probe AS (SELECT * FROM mkk WHERE no_email OR no_mobile),
             |cand AS (
             |  SELECT m.row_id, s.src_order FROM probe m JOIN sk s
             |    ON m._name <> '' AND m._name = s._name
             |  UNION
             |  SELECT m.row_id, s.src_order FROM probe m JOIN sk s
             |    ON m._email <> '' AND m._email = s._email
             |  UNION
             |  SELECT m.row_id, s.src_order FROM probe m JOIN sk s
             |    ON m._phone <> '' AND m._phone = s._phone),
             |ver AS (
             |  SELECT cd.row_id, cd.src_order,
             |    (CASE WHEN m._name <> '' AND s._name <> ''
             |            AND m._name = s._name THEN 1 ELSE 0 END
             |     + CASE WHEN m._email <> '' AND s._email <> ''
             |            AND m._email = s._email THEN 1 ELSE 0 END
             |     + CASE WHEN m._phone <> '' AND s._phone <> ''
             |            AND m._phone = s._phone THEN 1 ELSE 0 END) AS nmatch,
             |    concat_ws('+',
             |      CASE WHEN m._name <> '' AND m._name = s._name THEN 'name' END,
             |      CASE WHEN m._email <> '' AND m._email = s._email THEN 'email' END,
             |      CASE WHEN m._phone <> '' AND m._phone = s._phone THEN 'phone' END)
             |      AS matched_on,
             |    m.no_email, m.no_mobile, s.email AS s_email, s.mobile AS s_mobile
             |  FROM cand cd JOIN mkk m ON m.row_id = cd.row_id
             |    JOIN sk s ON s.src_order = cd.src_order),
             |win AS (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY row_id ORDER BY src_order ASC) AS rn
             |  FROM ver WHERE nmatch >= 2),
             |fills AS (
             |  SELECT row_id, matched_on,
             |    CASE WHEN no_email AND trim(s_email) <> '' THEN s_email END
             |      AS new_email,
             |    CASE WHEN no_mobile AND trim(s_mobile) <> '' THEN s_mobile END
             |      AS new_mobile
             |  FROM win WHERE rn = 1),
             |prov AS (
             |  SELECT row_id,
             |    concat_ws(',',
             |      CASE WHEN new_email IS NOT NULL THEN 'email' END,
             |      CASE WHEN new_mobile IS NOT NULL THEN 'mobile' END)
             |      AS filled_fields,
             |    matched_on
             |  FROM fills WHERE new_email IS NOT NULL OR new_mobile IS NOT NULL)
             |SELECT m.row_id,
             |  CASE WHEN m.no_email THEN coalesce(f.new_email, m.email)
             |       ELSE m.email END AS email,
             |  CASE WHEN m.no_mobile THEN coalesce(f.new_mobile, m.mobile)
             |       ELSE m.mobile END AS mobile,
             |  p.filled_fields, p.matched_on
             |FROM mkk m
             |LEFT JOIN fills f ON f.row_id = m.row_id
             |LEFT JOIN prov p ON p.row_id = m.row_id
             |ORDER BY m.row_id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q134: Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter
    // 1969) — the statistical generalization of the reference's rule-based
    // ">= 2 of 3 keys" contacts matcher (fill_missing_contact_info.py:64-99).
    // Planted corpus: exact duplicates (agree on every field -> 'match'),
    // near-duplicates with a perturbed name (disagree name, agree the rest
    // -> 'possible'), blocked on nation. u-probabilities are estimated from
    // the value distributions in ONE scan (collision mass sum (n_v/N)^2,
    // rounded 9); scoring is two id-keyed hash joins + a 1-row broadcast of
    // the u's; weights are a fixed-order 3-term sum rounded 6. Blocking
    // keeps the pair space linear-ish; the all-pairs-in-block join here is
    // the caller's blocking contract, not the operator's.
    QueryDef("q134_record_linkage",
      (s, dir) => {
        import graft.operators.Linkage
        import graft.operators.Linkage.FsField
        val base = t(s, dir, "customer").select(
          col("c_custkey").cast("long").as("id"),
          concat(lit("cust"), col("c_custkey").cast("string")).as("name"),
          col("c_mktsegment").as("seg"),
          col("c_nationkey").cast("long").as("nat"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
        val dirty = base.filter(col("id") % 4 === 0)
          .withColumn("id", col("id") + 1000000)
          .withColumn("name", concat(col("name"), lit("x")))
        val exact = base.filter(col("id") % 10 === 0)
          .withColumn("id", col("id") + 2000000)
        val recs = base.unionByName(dirty).unionByName(exact)
        // two-key blocking (nation x coarse balance bucket) keeps the
        // candidate space ~|block|^2/20 of single-key nation blocking
        // (8.2M -> ~0.6M pairs at sf0.1, measured 15.4 s -> ~2 s).
        // bal_bucket is also a scored field, so its agreement weight is
        // constant over candidates — the planted match/possible classes
        // separate exactly as before (both dup classes preserve the
        // bucket); the standard don't-score-your-block-key caveat is
        // deliberate and documented here.
        val pairs = recs.select(col("id"), col("nat"), col("bal_bucket"))
          .as("a")
          .join(recs.select(col("id"), col("nat"), col("bal_bucket"))
            .as("b"),
            col("a.nat") === col("b.nat")
              && col("a.bal_bucket") === col("b.bal_bucket")
              && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        Linkage.fellegiSunter(recs, "id", pairs,
            Seq(FsField("name", 0.95), FsField("seg", 0.9),
              FsField("bal_bucket", 0.85)),
            upperT = 4.0, lowerT = 0.0)
          .filter(col("decision") =!= "non_match")
          .orderBy(col("weight").desc, col("id_a"), col("id_b"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS id,
             |    'cust' || c_custkey AS name,
             |    c_mktsegment AS seg,
             |    CAST(c_nationkey AS BIGINT) AS nat,
             |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
             |  FROM customer),
             |dirty AS (SELECT id + 1000000 AS id, name || 'x' AS name,
             |    seg, nat, bal_bucket FROM base WHERE id % 4 = 0),
             |exact AS (SELECT id + 2000000 AS id, name, seg, nat,
             |    bal_bucket FROM base WHERE id % 10 = 0),
             |recs AS (SELECT * FROM base UNION ALL SELECT * FROM dirty
             |  UNION ALL SELECT * FROM exact),
             |un AS (SELECT round(least(greatest(
             |    sum(n * n) / (sum(n) * sum(n)), 1e-9), 1 - 1e-9), 9) AS u
             |  FROM (SELECT count(*) AS n FROM recs
             |        WHERE name IS NOT NULL GROUP BY name)),
             |us AS (SELECT round(least(greatest(
             |    sum(n * n) / (sum(n) * sum(n)), 1e-9), 1 - 1e-9), 9) AS u
             |  FROM (SELECT count(*) AS n FROM recs
             |        WHERE seg IS NOT NULL GROUP BY seg)),
             |ub AS (SELECT round(least(greatest(
             |    sum(n * n) / (sum(n) * sum(n)), 1e-9), 1 - 1e-9), 9) AS u
             |  FROM (SELECT count(*) AS n FROM recs
             |        WHERE bal_bucket IS NOT NULL GROUP BY bal_bucket)),
             |pr AS (SELECT a.id AS id_a, b.id AS id_b,
             |    a.name AS an, b.name AS bn, a.seg AS asg, b.seg AS bsg,
             |    a.bal_bucket AS ab, b.bal_bucket AS bb
             |  FROM recs a JOIN recs b ON a.nat = b.nat
             |    AND a.bal_bucket = b.bal_bucket AND a.id < b.id),
             |sc AS (SELECT id_a, id_b,
             |    CASE WHEN an IS NULL OR bn IS NULL THEN NULL
             |         WHEN an = bn THEN 1 ELSE 0 END AS agree_name,
             |    CASE WHEN asg IS NULL OR bsg IS NULL THEN NULL
             |         WHEN asg = bsg THEN 1 ELSE 0 END AS agree_seg,
             |    CASE WHEN ab IS NULL OR bb IS NULL THEN NULL
             |         WHEN ab = bb THEN 1 ELSE 0 END AS agree_bal_bucket,
             |    round(
             |      (CASE WHEN an IS NULL OR bn IS NULL THEN 0.0
             |            WHEN an = bn THEN log2(0.95 / un.u)
             |            ELSE log2(0.05 / (1 - un.u)) END)
             |      + (CASE WHEN asg IS NULL OR bsg IS NULL THEN 0.0
             |              WHEN asg = bsg THEN log2(0.9 / us.u)
             |              ELSE log2(0.1 / (1 - us.u)) END)
             |      + (CASE WHEN ab IS NULL OR bb IS NULL THEN 0.0
             |              WHEN ab = bb THEN log2(0.85 / ub.u)
             |              ELSE log2(0.15 / (1 - ub.u)) END), 6) AS weight
             |  FROM pr CROSS JOIN un CROSS JOIN us CROSS JOIN ub)
             |SELECT id_a, id_b, agree_name, agree_seg, agree_bal_bucket,
             |  weight,
             |  CASE WHEN weight >= 4.0 THEN 'match'
             |       WHEN weight <= 0.0 THEN 'non_match'
             |       ELSE 'possible' END AS decision
             |FROM sc WHERE weight > 0.0
             |ORDER BY weight DESC, id_a, id_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q135: sorted-neighborhood candidate generation (Hernandez-Stolfo
    // merge/purge) — the complementary blocking pass to q33's suffix
    // blocks: planted END-of-name typos sort adjacent to their source, so
    // the rank window catches pairs equality blocking splits. Global rank
    // via the two-phase range-partition scheme (NO single-task window);
    // pairing is a bucket-keyed equi-join (two probe buckets per row,
    // n * (window-1) candidates). The oracle restates the definition with
    // a row_number window + rank-gap join — same pair set by construction.
    QueryDef("q135_sorted_neighborhood",
      (s, dir) => {
        val base = t(s, dir, "customer").select(
          col("c_custkey").cast("long").as("id"),
          concat(lit("cust"),
            lpad(col("c_custkey").cast("string"), 9, "0")).as("name"))
        val dirty = base.filter(col("id") % 4 === 0)
          .select((col("id") + 1000000).as("id"),
            concat(col("name"), lit("x")).as("name"))
        val recs = base.unionByName(dirty)
        val names = recs.select(col("id"), col("name"))
        graft.operators.Fuzzy.sortedNeighborhood(recs, "id", col("name"), 5)
          .join(names.select(col("id").as("id_a"), col("name").as("name_a")),
            Seq("id_a"))
          .join(names.select(col("id").as("id_b"), col("name").as("name_b")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("gap"),
            levenshtein(col("name_a"), col("name_b")).as("dist"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some("""WITH base AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS id,
             |    'cust' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS name
             |  FROM customer),
             |dirty AS (SELECT id + 1000000 AS id, name || 'x' AS name
             |  FROM base WHERE id % 4 = 0),
             |recs AS (SELECT * FROM base UNION ALL SELECT * FROM dirty),
             |rk AS (SELECT id, name,
             |    row_number() OVER (ORDER BY name, id) AS rn FROM recs)
             |SELECT a.id AS id_a, b.id AS id_b,
             |  b.rn - a.rn AS gap, levenshtein(a.name, b.name) AS dist
             |FROM rk a JOIN rk b
             |  ON b.rn > a.rn AND b.rn - a.rn < 5
             |ORDER BY id_a, id_b""".stripMargin)),


    // ---------------------------------------------------------------------
    // q141: the COMPOSED entity-resolution pipeline — the full merge/purge
    // loop the reference's contacts scripts approximate by hand: TWO
    // blocking passes (q33's equality blocks + q135's sorted neighborhood,
    // unioned — each catches pairs the other splits), Fellegi-Sunter
    // scoring (q134), weight>0 links, connected components (q44's kernel),
    // cluster sizes. Every stage is the already-graded operator; this
    // grades their composition. The oracle restates all four stages,
    // closing the clusters with a recursive CTE.
    QueryDef("q141_er_pipeline",
      (s, dir) => {
        import graft.operators.{Dedup, Fuzzy, Linkage}
        import graft.operators.Linkage.FsField
        val base = t(s, dir, "customer").select(
          col("c_custkey").cast("long").as("id"),
          concat(lit("cust"),
            lpad(col("c_custkey").cast("string"), 9, "0")).as("name"),
          col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"))
        val dirty = base.filter(col("id") % 4 === 0)
          .withColumn("id", col("id") + 1000000)
          .withColumn("name", concat(col("name"), lit("x")))
        val exact = base.filter(col("id") % 10 === 0)
          .withColumn("id", col("id") + 2000000)
        // pinned: consumed by both blocking passes (each a self-join),
        // the FS scorer's record sides + three u-probability aggregates,
        // and the CC node set — ~8 re-derivations of the same projection
        // without it
        val recs = graft.pipeline.Pins.pin(
          base.unionByName(dirty).unionByName(exact))
        val p1 = Fuzzy.blockedPairs(recs, "id", "name",
            substring(col("name"), 5, 8), maxDist = 2)
          .select(col("id_a"), col("id_b"))
        val p2 = Fuzzy.sortedNeighborhood(recs, "id", col("name"), 5)
          .select(least(col("id_a"), col("id_b")).as("id_a"),
            greatest(col("id_a"), col("id_b")).as("id_b"))
        val cand = p1.unionByName(p2).distinct()
        val links = Linkage.fellegiSunter(recs, "id", cand,
            Seq(FsField("name", 0.95), FsField("seg", 0.9),
              FsField("bal_bucket", 0.85)),
            upperT = 4.0, lowerT = 0.0)
          .filter(col("weight") > 0)
          .select(col("id_a"), col("id_b"))
        val cc = Dedup.connectedComponents(recs.select(col("id")), links)
        val sz = cc.groupBy(col("cluster"))
          .agg(count(lit(1)).as("cluster_size"))
        cc.join(sz, Seq("cluster"))
          .select(col("id"), col("cluster"), col("cluster_size"))
          .orderBy(col("id"))
      },
      Some("""WITH RECURSIVE
             |base AS (
             |  SELECT CAST(c_custkey AS BIGINT) AS id,
             |    'cust' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS name,
             |    c_mktsegment AS seg,
             |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket
             |  FROM customer),
             |dirty AS (SELECT id + 1000000 AS id, name || 'x' AS name,
             |    seg, bal_bucket FROM base WHERE id % 4 = 0),
             |exact AS (SELECT id + 2000000 AS id, name, seg, bal_bucket
             |  FROM base WHERE id % 10 = 0),
             |recs AS (SELECT * FROM base UNION ALL SELECT * FROM dirty
             |  UNION ALL SELECT * FROM exact),
             |blk AS (SELECT id, name, substr(name, 5, 8) AS b FROM recs),
             |p1 AS (SELECT a.id AS id_a, b.id AS id_b
             |  FROM blk a JOIN blk b ON a.b = b.b AND a.id < b.id
             |  WHERE levenshtein(a.name, b.name) <= 2),
             |rk AS (SELECT id, row_number() OVER (ORDER BY name, id) AS rn
             |  FROM recs),
             |p2 AS (SELECT least(a.id, b.id) AS id_a,
             |    greatest(a.id, b.id) AS id_b
             |  FROM rk a JOIN rk b ON b.rn > a.rn AND b.rn - a.rn < 5),
             |cand AS (SELECT DISTINCT id_a, id_b FROM
             |  (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
             |un AS (SELECT round(least(greatest(
             |    sum(n * n) / (sum(n) * sum(n)), 1e-9), 1 - 1e-9), 9) AS u
             |  FROM (SELECT count(*) AS n FROM recs
             |        WHERE name IS NOT NULL GROUP BY name)),
             |us AS (SELECT round(least(greatest(
             |    sum(n * n) / (sum(n) * sum(n)), 1e-9), 1 - 1e-9), 9) AS u
             |  FROM (SELECT count(*) AS n FROM recs
             |        WHERE seg IS NOT NULL GROUP BY seg)),
             |ub AS (SELECT round(least(greatest(
             |    sum(n * n) / (sum(n) * sum(n)), 1e-9), 1 - 1e-9), 9) AS u
             |  FROM (SELECT count(*) AS n FROM recs
             |        WHERE bal_bucket IS NOT NULL GROUP BY bal_bucket)),
             |pr AS (SELECT c.id_a, c.id_b, ra.name AS an, rb.name AS bn,
             |    ra.seg AS asg, rb.seg AS bsg,
             |    ra.bal_bucket AS ab, rb.bal_bucket AS bb
             |  FROM cand c JOIN recs ra ON c.id_a = ra.id
             |  JOIN recs rb ON c.id_b = rb.id),
             |sc AS (SELECT id_a, id_b,
             |    round(
             |      (CASE WHEN an = bn THEN log2(0.95 / un.u)
             |            ELSE log2(0.05 / (1 - un.u)) END)
             |      + (CASE WHEN asg = bsg THEN log2(0.9 / us.u)
             |              ELSE log2(0.1 / (1 - us.u)) END)
             |      + (CASE WHEN ab = bb THEN log2(0.85 / ub.u)
             |              ELSE log2(0.15 / (1 - ub.u)) END), 6) AS weight
             |  FROM pr CROSS JOIN un CROSS JOIN us CROSS JOIN ub),
             |links AS (SELECT id_a, id_b FROM sc WHERE weight > 0),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM links
             |  UNION ALL SELECT id_b, id_a FROM links),
             |reach(id, r) AS (
             |  SELECT id, id FROM recs
             |  UNION
             |  SELECT reach.id, edges.dst FROM reach
             |  JOIN edges ON edges.src = reach.r),
             |cl AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
             |sz AS (SELECT cluster, count(*) AS cluster_size FROM cl
             |  GROUP BY cluster)
             |SELECT cl.id, cl.cluster, sz.cluster_size
             |FROM cl JOIN sz USING (cluster)
             |ORDER BY cl.id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q147: label-noise audit (confident-learning-lite, Northcutt 2021)
    // over a deliberately corrupted training set: the q112 plant (real
    // docs good, md5-soup junk) with labels FLIPPED on real docs
    // %17==3 and soup docs %17==5. The NB model trained on the noisy
    // labels is scored back over its own training rows; every
    // disagreement is emitted with the model's log-odds and the planted
    // ground truth (`flipped`) — the audit is correct iff the suspect
    // list is exactly the flip set (NB's bag-of-tokens capacity cannot
    // memorize a lone flipped row against thousands of consistent ones).
    // Same scale shape as q112: vocab-keyed hash join + doc-keyed
    // aggregate; the label join-back is batch-sized.
    QueryDef("q147_label_noise",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 4 =!= 0)
        val soup = d.select(col("doc_id"),
          concat_ws(" ", (0 until 8).map(i =>
            md5((col("doc_id") + lit(i)).cast("string").cast("binary")))
            : _*).as("text"))
        val train = d.select(col("doc_id").as("id"), col("text"),
            when(col("doc_id") % 17 === 3, "junk").otherwise("good")
              .as("label"))
          .unionByName(soup.select((col("doc_id") + 10000).as("id"),
            col("text"),
            when(col("doc_id") % 17 === 5, "good").otherwise("junk")
              .as("label")))
        Classify.labelNoise(train, "id", "text", "label", "good", "junk")
          .withColumn("flipped",
            (col("id") < 10000 && col("id") % 17 === 3) ||
              (col("id") >= 10000 && (col("id") - 10000) % 17 === 5))
          .orderBy(col("id"))
      },
      Some("""WITH base AS (SELECT doc_id, text FROM documents
             |  WHERE doc_id % 4 <> 0),
             |soup AS (
             |  SELECT doc_id, concat_ws(' ',
             |    md5(CAST(doc_id + 0 AS VARCHAR)),
             |    md5(CAST(doc_id + 1 AS VARCHAR)),
             |    md5(CAST(doc_id + 2 AS VARCHAR)),
             |    md5(CAST(doc_id + 3 AS VARCHAR)),
             |    md5(CAST(doc_id + 4 AS VARCHAR)),
             |    md5(CAST(doc_id + 5 AS VARCHAR)),
             |    md5(CAST(doc_id + 6 AS VARCHAR)),
             |    md5(CAST(doc_id + 7 AS VARCHAR))) AS text
             |  FROM base),
             |trainr AS (
             |  SELECT doc_id AS id, text,
             |    CASE WHEN doc_id % 17 = 3 THEN 'junk' ELSE 'good' END
             |      AS label
             |  FROM base
             |  UNION ALL
             |  SELECT doc_id + 10000, text,
             |    CASE WHEN doc_id % 17 = 5 THEN 'good' ELSE 'junk' END
             |  FROM soup),
             |ttok AS (
             |  SELECT label = 'good' AS is_pos, unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS tok
             |  FROM trainr),
             |tt AS (SELECT tok,
             |    sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS c_pos,
             |    sum(CASE WHEN NOT is_pos THEN 1 ELSE 0 END) AS c_neg
             |  FROM ttok GROUP BY tok),
             |tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg,
             |    count(*) AS vsz FROM tt),
             |pri AS (SELECT
             |    sum(CASE WHEN label = 'good' THEN 1 ELSE 0 END) AS d_pos,
             |    sum(CASE WHEN label <> 'good' THEN 1 ELSE 0 END) AS d_neg
             |  FROM trainr),
             |stok AS (
             |  SELECT id, unnest(list_filter(
             |    string_split_regex(lower(trim(text)), '\s+'),
             |    t -> t <> '')) AS tok
             |  FROM trainr),
             |lp AS (SELECT id,
             |    ln((coalesce(c_pos, 0) + 1.0)
             |      / (t_pos + 1.0 * vsz)) AS lp_pos,
             |    ln((coalesce(c_neg, 0) + 1.0)
             |      / (t_neg + 1.0 * vsz)) AS lp_neg
             |  FROM stok LEFT JOIN tt USING (tok) CROSS JOIN tot),
             |pd AS (SELECT id, count(*) AS n_tokens,
             |    sum(lp_pos) AS s_pos, sum(lp_neg) AS s_neg
             |  FROM lp GROUP BY id),
             |sc AS (SELECT tr.id, tr.label AS given_label,
             |    round(ln(CAST(d_pos AS DOUBLE) / d_neg)
             |      + coalesce(s_pos - s_neg, 0.0), 4) AS log_odds
             |  FROM trainr tr LEFT JOIN pd ON tr.id = pd.id CROSS JOIN pri),
             |outp AS (SELECT id, given_label,
             |    CASE WHEN log_odds > 0 THEN 'good' ELSE 'junk' END
             |      AS prediction,
             |    log_odds,
             |    (id < 10000 AND id % 17 = 3)
             |      OR (id >= 10000 AND (id - 10000) % 17 = 5) AS flipped
             |  FROM sc)
             |SELECT * FROM outp WHERE prediction <> given_label
             |ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q150: k-anonymity / l-diversity audit (Sweeney 2002;
    // Machanavajjhala 2007) over customer quasi-identifiers (nation,
    // segment, 2000-unit balance bucket) with a binary sensitive
    // attribute (in-debt flag): every combo below k=5 members or without
    // both sensitive values is a re-identification / disclosure risk the
    // release pipeline must generalize or suppress. One hash aggregate
    // keyed on the quasi tuple computing size and distinct-sensitive
    // together.
    QueryDef("q150_k_anonymity",
      (s, dir) => {
        val c = t(s, dir, "customer").select(col("c_nationkey"),
          col("c_mktsegment"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_bucket"),
          when(col("c_acctbal") < 0, "debt").otherwise("ok").as("fin"))
        graft.operators.Privacy.kAnonymityAudit(c,
            Seq("c_nationkey", "c_mktsegment", "bal_bucket"), "fin",
            k = 5, l = 2)
          .orderBy(col("c_nationkey"), col("c_mktsegment"),
            col("bal_bucket"))
      },
      Some("""WITH c AS (SELECT c_nationkey, c_mktsegment,
             |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             |    CASE WHEN c_acctbal < 0 THEN 'debt' ELSE 'ok' END AS fin
             |  FROM customer)
             |SELECT c_nationkey, c_mktsegment, bal_bucket,
             |  count(*) AS group_size,
             |  count(DISTINCT fin) AS l_distinct,
             |  count(*) >= 5 AS k_anonymous,
             |  count(DISTINCT fin) >= 2 AS l_diverse
             |FROM c GROUP BY 1, 2, 3
             |ORDER BY 1, 2, 3""".stripMargin)),


    // ---------------------------------------------------------------------
    // q152: Cohen's kappa inter-annotator agreement per source — two
    // heuristic "annotators" (a char-length rule and a token-count rule,
    // correlated but imperfect) plus a planted systematic flip on
    // annotator B for doc_id %13==2; kappa must come out well below the
    // raw agreement po (chance correction), per source. One contingency
    // aggregate keyed (source, a, b); everything after is arithmetic on
    // that metadata-sized frame.
    QueryDef("q152_annotator_kappa",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("source"),
          col("n_chars"), Text.tokenCount(col("text")).as("n_tok"))
        val annotated = d.select(col("source"),
          when(col("n_chars") >= 150, "keep").otherwise("drop").as("ann_a"),
          when(col("doc_id") % 13 === 2,
            when(col("n_tok") >= 30, "drop").otherwise("keep"))
            .otherwise(when(col("n_tok") >= 30, "keep").otherwise("drop"))
            .as("ann_b"))
        graft.operators.Agreement.cohenKappa(
            annotated, "source", "ann_a", "ann_b")
          .orderBy(col("source"))
      },
      Some("""WITH d AS (SELECT doc_id, source, n_chars,
             |    len(list_filter(string_split_regex(lower(trim(text)),
             |      '\s+'), t -> t <> '')) AS n_tok
             |  FROM documents),
             |ann AS (SELECT source,
             |    CASE WHEN n_chars >= 150 THEN 'keep' ELSE 'drop' END
             |      AS ann_a,
             |    CASE WHEN doc_id % 13 = 2 THEN
             |      CASE WHEN n_tok >= 30 THEN 'drop' ELSE 'keep' END
             |    ELSE
             |      CASE WHEN n_tok >= 30 THEN 'keep' ELSE 'drop' END
             |    END AS ann_b
             |  FROM d),
             |ct AS (SELECT source, ann_a AS a, ann_b AS b, count(*) AS c
             |  FROM ann GROUP BY 1, 2, 3),
             |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
             |    sum(CASE WHEN a = b THEN c ELSE 0 END) AS agree
             |  FROM ct GROUP BY 1),
             |ma AS (SELECT source, a AS cat, sum(c) AS ca
             |  FROM ct GROUP BY 1, 2),
             |mb AS (SELECT source, b AS cat, sum(c) AS cb
             |  FROM ct GROUP BY 1, 2),
             |ch AS (SELECT source, sum(ca * cb) AS sprod
             |  FROM ma JOIN mb USING (source, cat) GROUP BY 1),
             |po AS (SELECT t.source, n,
             |    round(CAST(agree AS DOUBLE) / n, 6) AS po,
             |    round(CAST(sprod AS DOUBLE) / (n * n), 6) AS pe
             |  FROM tot t JOIN ch USING (source))
             |SELECT source, n, po, pe,
             |  round((po - pe) / nullif(1.0 - pe, 0.0), 6) AS kappa
             |FROM po ORDER BY source""".stripMargin)),


    // ---------------------------------------------------------------------
    // q153: weak-supervision label model (Snorkel majority-vote +
    // accuracy-weighted re-vote) — four LFs over documents: a char-length
    // rule and a token-count rule (accurate, abstaining in a middle
    // band), a near-random doc_id-hash LF (weight must land near 0), and
    // an ADVERSARIAL inverted-length LF whose estimated accuracy falls
    // below 1/2 — its weight goes negative, so the weighted re-vote
    // INVERTS its votes back into signal. Votes shuffle twice on doc,
    // once on LF (|LFs|-row weights frame, broadcast back).
    QueryDef("q153_label_model",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"), col("n_chars"),
          Text.tokenCount(col("text")).as("n_tok"))
        def lf(name: String, vote: Column) =
          d.select(col("doc_id").as("id"), lit(name).as("lf"),
            vote.cast("int").as("vote"))
        val votes = lf("lf_chars",
            when(col("n_chars") >= 180, 1).when(col("n_chars") < 120, -1)
              .otherwise(0))
          .unionByName(lf("lf_tok",
            when(col("n_tok") >= 28, 1).when(col("n_tok") < 18, -1)
              .otherwise(0)))
          .unionByName(lf("lf_noise",
            when(col("doc_id") % 5 < 3, 1).otherwise(-1)))
          .unionByName(lf("lf_adv",
            when(col("n_chars") >= 150, -1).otherwise(1)))
        graft.operators.LabelModel.weightedVote(votes, "id", "lf", "vote")
          .orderBy(col("id"))
      },
      Some("""WITH d AS (SELECT doc_id, n_chars,
             |    len(list_filter(string_split_regex(lower(trim(text)),
             |      '\s+'), t -> t <> '')) AS n_tok
             |  FROM documents),
             |votes AS (
             |  SELECT doc_id AS id, 'lf_chars' AS lf,
             |    CASE WHEN n_chars >= 180 THEN 1
             |      WHEN n_chars < 120 THEN -1 ELSE 0 END AS vote FROM d
             |  UNION ALL
             |  SELECT doc_id, 'lf_tok',
             |    CASE WHEN n_tok >= 28 THEN 1
             |      WHEN n_tok < 18 THEN -1 ELSE 0 END FROM d
             |  UNION ALL
             |  SELECT doc_id, 'lf_noise',
             |    CASE WHEN doc_id % 5 < 3 THEN 1 ELSE -1 END FROM d
             |  UNION ALL
             |  SELECT doc_id, 'lf_adv',
             |    CASE WHEN n_chars >= 150 THEN -1 ELSE 1 END FROM d),
             |mv AS (SELECT id, CAST(sign(sum(vote)) AS INT) AS mv
             |  FROM votes GROUP BY 1),
             |acc AS (SELECT lf, count(*) AS n_votes,
             |    sum(CASE WHEN vote = mv THEN 1 ELSE 0 END) AS n_agree
             |  FROM votes JOIN mv USING (id)
             |  WHERE vote <> 0 AND mv <> 0 GROUP BY 1),
             |wts AS (SELECT lf,
             |    round(least(greatest(CAST(n_agree AS DOUBLE) / n_votes,
             |      0.01), 0.99), 6) AS a
             |  FROM acc),
             |wts2 AS (SELECT lf, round(ln(a / (1.0 - a)), 6) AS weight
             |  FROM wts)
             |SELECT id,
             |  CAST(sum(CASE WHEN vote <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_votes,
             |  CAST(sign(sum(vote)) AS INT) AS mv,
             |  round(sum(vote * coalesce(weight, 0.0)), 4) AS w_score,
             |  CAST(sign(round(sum(vote * coalesce(weight, 0.0)), 4))
             |    AS INT) AS label
             |FROM votes LEFT JOIN wts2 USING (lf)
             |GROUP BY id ORDER BY id""".stripMargin)),


    // ---------------------------------------------------------------------
    // q155: Bradley-Terry preference ranking (Hunter 2004 MM, 3
    // iterations) over pairwise doc-quality judgments between sources.
    // Comparisons: docs at id-distance 1 and 7 (the source axis is a
    // doc_id % 20 ring, so step-7 edges make the tournament well
    // connected, gcd(7,20)=1); winner = higher boosted length, with
    // planted boosts on src3 (+500) and src7 (+250) the fitted
    // strengths must recover as ranks 1 and 2. The corpus reduces to
    // (winner, loser) counts in one shuffle; all MM iterations run on
    // the |sources|^2 pair frame. The twin unrolls the same 3
    // iterations, so failing to iterate exactly moves the hash.
    QueryDef("q155_preference_rank",
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          (col("n_chars") + when(col("source") === "src3", 500)
            .when(col("source") === "src7", 250).otherwise(0))
            .as("score"))
        def pairsAt(step: Int) = {
          val a = d.select(col("doc_id").as("id"),
            col("source").as("s1"), col("score").as("sc1"))
          val b = d.select((col("doc_id") - step).as("id"),
            col("source").as("s2"), col("score").as("sc2"))
          a.join(b, Seq("id"))
            .filter(col("s1") =!= col("s2") && col("sc1") =!= col("sc2"))
            .select(when(col("sc1") > col("sc2"), col("s1"))
                .otherwise(col("s2")).as("winner"),
              when(col("sc1") > col("sc2"), col("s2"))
                .otherwise(col("s1")).as("loser"))
        }
        graft.operators.Preference.bradleyTerry(
            pairsAt(1).unionByName(pairsAt(7)), "winner", "loser",
            iters = 3)
          .orderBy(col("rnk"), col("player"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    n_chars + CASE WHEN source = 'src3' THEN 500
             |      WHEN source = 'src7' THEN 250 ELSE 0 END AS score
             |  FROM documents),
             |comp AS (
             |  SELECT CASE WHEN a.score > b.score THEN a.source
             |      ELSE b.source END AS winner,
             |    CASE WHEN a.score > b.score THEN b.source
             |      ELSE a.source END AS loser
             |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
             |  WHERE a.source <> b.source AND a.score <> b.score
             |  UNION ALL
             |  SELECT CASE WHEN a.score > b.score THEN a.source
             |      ELSE b.source END,
             |    CASE WHEN a.score > b.score THEN b.source
             |      ELSE a.source END
             |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 7
             |  WHERE a.source <> b.source AND a.score <> b.score),
             |dd AS (SELECT winner AS p, loser AS q, count(*) AS w
             |  FROM comp GROUP BY 1, 2),
             |sym AS (SELECT p, q, sum(w) AS w FROM (
             |    SELECT p, q, w FROM dd
             |    UNION ALL SELECT q, p, 0 FROM dd) GROUP BY 1, 2),
             |nn AS (SELECT p, q, sum(w) AS n FROM (
             |    SELECT p, q, w FROM sym
             |    UNION ALL SELECT q, p, w FROM sym) GROUP BY 1, 2),
             |ps AS (SELECT sym.p, sym.q, CAST(sym.w AS DOUBLE) AS w,
             |    CAST(nn.n AS DOUBLE) AS n
             |  FROM sym JOIN nn ON sym.p = nn.p AND sym.q = nn.q),
             |wp AS (SELECT p, sum(w) AS wins, sum(n) AS games
             |  FROM ps GROUP BY 1),
             |r0 AS (SELECT p, 1.0 AS pi FROM wp),
             |i1 AS (SELECT ps.p,
             |    max(wp.wins) / sum(ps.n / (ra.pi + rb.pi)) AS pi
             |  FROM ps JOIN r0 ra ON ra.p = ps.p
             |    JOIN r0 rb ON rb.p = ps.q
             |    JOIN wp ON wp.p = ps.p GROUP BY ps.p),
             |i2 AS (SELECT ps.p,
             |    max(wp.wins) / sum(ps.n / (ra.pi + rb.pi)) AS pi
             |  FROM ps JOIN i1 ra ON ra.p = ps.p
             |    JOIN i1 rb ON rb.p = ps.q
             |    JOIN wp ON wp.p = ps.p GROUP BY ps.p),
             |i3 AS (SELECT ps.p,
             |    max(wp.wins) / sum(ps.n / (ra.pi + rb.pi)) AS pi
             |  FROM ps JOIN i2 ra ON ra.p = ps.p
             |    JOIN i2 rb ON rb.p = ps.q
             |    JOIN wp ON wp.p = ps.p GROUP BY ps.p),
             |fin AS (SELECT p, pi / sum(pi) OVER () AS share FROM i3)
             |SELECT f.p AS player, CAST(wp.games AS BIGINT) AS games,
             |  CAST(wp.wins AS BIGINT) AS wins,
             |  round(f.share, 6) AS strength,
             |  dense_rank() OVER (ORDER BY round(f.share, 6) DESC) AS rnk
             |FROM fin f JOIN wp ON wp.p = f.p
             |ORDER BY rnk, player""".stripMargin)),


    // ---------------------------------------------------------------------
    // q173: preference-transitivity audit — majority-direction edges
    // from the q155-style tournament (id-distance 1/7/8 so triads
    // exist on the source ring) plus a PLANTED 3-cycle among synthetic
    // players zA/zB/zC; every fully-connected triad is classified
    // transitive or cyclic (all in-triad out-degrees exactly 1). BT
    // (q155) fits intransitive judges silently — this measures the
    // violations. Corpus reduces to |players|² majority edges in one
    // shuffle; the triad join is arithmetic on that metadata frame.
    QueryDef("q173_preference_cycles",
      (s, dir) => {
        import s.implicits._
        val d = t(s, dir, "documents").select(col("doc_id"),
          col("source"),
          (col("n_chars") + when(col("source") === "src3", 500)
            .when(col("source") === "src7", 250).otherwise(0))
            .as("score"))
        def pairsAt(step: Int) = {
          val a = d.select(col("doc_id").as("id"),
            col("source").as("s1"), col("score").as("sc1"))
          val b = d.select((col("doc_id") - step).as("id"),
            col("source").as("s2"), col("score").as("sc2"))
          a.join(b, Seq("id"))
            .filter(col("s1") =!= col("s2") && col("sc1") =!= col("sc2"))
            .select(when(col("sc1") > col("sc2"), col("s1"))
                .otherwise(col("s2")).as("winner"),
              when(col("sc1") > col("sc2"), col("s2"))
                .otherwise(col("s1")).as("loser"))
        }
        val planted = (Seq.fill(3)(("zA", "zB"))
          ++ Seq.fill(3)(("zB", "zC")) ++ Seq.fill(3)(("zC", "zA")))
          .toDF("winner", "loser")
        graft.operators.Preference.cycleAudit(
            pairsAt(1).unionByName(pairsAt(7)).unionByName(pairsAt(8))
              .unionByName(planted), "winner", "loser")
          .orderBy(col("x"), col("y"), col("z"))
      },
      Some("""WITH d AS (SELECT doc_id, source,
             |    n_chars + CASE WHEN source = 'src3' THEN 500
             |      WHEN source = 'src7' THEN 250 ELSE 0 END AS score
             |  FROM documents),
             |comp AS (
             |  SELECT CASE WHEN a.score > b.score THEN a.source
             |      ELSE b.source END AS winner,
             |    CASE WHEN a.score > b.score THEN b.source
             |      ELSE a.source END AS loser
             |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 1
             |  WHERE a.source <> b.source AND a.score <> b.score
             |  UNION ALL
             |  SELECT CASE WHEN a.score > b.score THEN a.source
             |      ELSE b.source END,
             |    CASE WHEN a.score > b.score THEN b.source
             |      ELSE a.source END
             |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 7
             |  WHERE a.source <> b.source AND a.score <> b.score
             |  UNION ALL
             |  SELECT CASE WHEN a.score > b.score THEN a.source
             |      ELSE b.source END,
             |    CASE WHEN a.score > b.score THEN b.source
             |      ELSE a.source END
             |  FROM d a JOIN d b ON b.doc_id = a.doc_id + 8
             |  WHERE a.source <> b.source AND a.score <> b.score
             |  UNION ALL
             |  SELECT * FROM (VALUES ('zA','zB'),('zA','zB'),
             |    ('zA','zB'),('zB','zC'),('zB','zC'),('zB','zC'),
             |    ('zC','zA'),('zC','zA'),('zC','zA'))
             |    AS t(winner, loser)),
             |dd AS (SELECT winner AS w, loser AS l, count(*) AS n
             |  FROM comp GROUP BY 1, 2),
             |canon AS (SELECT least(w, l) AS a, greatest(w, l) AS b,
             |    sum(CASE WHEN w < l THEN n ELSE 0 END) AS wab,
             |    sum(CASE WHEN w > l THEN n ELSE 0 END) AS wba
             |  FROM dd GROUP BY 1, 2),
             |e AS (SELECT a, b, wab > wba AS fwd FROM canon
             |  WHERE wab <> wba)
             |SELECT e1.x, e1.y, e2.z,
             |  e1.xy AS x_beats_y, e2.yz AS y_beats_z,
             |  e3.xz AS x_beats_z,
             |  (CAST(e1.xy AS INT) + CAST(e3.xz AS INT) = 1)
             |    AND ((1 - CAST(e1.xy AS INT)) + CAST(e2.yz AS INT)
             |      = 1)
             |    AND ((1 - CAST(e2.yz AS INT))
             |      + (1 - CAST(e3.xz AS INT)) = 1) AS cyclic
             |FROM (SELECT a AS x, b AS y, fwd AS xy FROM e) e1
             |JOIN (SELECT a AS y2, b AS z, fwd AS yz FROM e) e2
             |  ON e2.y2 = e1.y
             |JOIN (SELECT a AS x3, b AS z3, fwd AS xz FROM e) e3
             |  ON e3.x3 = e1.x AND e3.z3 = e2.z
             |ORDER BY x, y, z""".stripMargin))
  )
}
