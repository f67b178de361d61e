"""DuckDB oracle SQL for every driver-contract query.

``oracle_sql()`` returns one ANSI-SQL string per
``__spark_entry__.queries()`` entry, replayable by DuckDB on the same
parquet tables — the exact-value correctness gate.  Split out of the
entry file in round 10; the few oracle helpers that live next to
their builders are imported from ``cubes_spark.entry_queries``.
"""

from __future__ import annotations

from cubes_spark.entry_queries import (
    _BM25_TERMS,
    _oracle_sf_dir,
    _audio_dedup_oracle,
    _bpe_oracle,
    _bpe_vocab_oracle,
    _hilbert_oracle,
    _hits_oracle,
    _ima_decode_reference,
    _image_dedup_oracle,
    _pagerank_oracle,
    _textrank_oracle,
)

# -- oracle SQL -------------------------------------------------------------

_DEC_QTY = "CAST(l_quantity AS DECIMAL(20,2))"
_DEC_PRICE = "CAST(l_extendedprice AS DECIMAL(20,2))"
_DEC_DISC = "CAST(l_discount AS DECIMAL(6,2))"
_DEC_TAX = "CAST(l_tax AS DECIMAL(6,2))"

#: md5-derived 60-bit portable hash (see cubes_spark.llm.text.hash64)
_H64 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"

#: normalized text + whitespace tokens, DuckDB side
_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKENS = ("CASE WHEN trim(text) = '' THEN [] "
           "ELSE string_split_regex(trim(text), '\\s+') END")

_STOP_EN = "'the','and','of','to','in','is','that','it','was','for'"
_STOP_DE = "'der','die','das','und','ist','von','mit','den','nicht','ein'"
_STOP_FR = "'le','la','les','et','de','un','une','est','que','pour'"
_STOP_ES = "'el','la','los','las','de','que','y','en','un','es'"

#: SQL-side punctuation class: same as cubes_spark.llm.text.PUNCT_CLASS
#: with the apostrophe doubled for the single-quoted SQL literal.
_PUNCT_RE = r"[.,;:!?''\"()\[\]{}<>/@#$%^&*_+=~`|\\-]"


def _text_stats_sql() -> str:
    """Shared per-document stats CTE body (mirrors llm.text.text_stats)."""
    return f"""
    SELECT doc_id, lang, source, text,
        length(text) AS n_chars_c,
        len({_TOKENS}) AS n_tokens,
        length(regexp_replace(text, '\\s', '', 'g')) AS n_nospace,
        length(text) - length(regexp_replace(text, '{_PUNCT_RE}', '', 'g'))
            AS n_punct,
        length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
            AS n_digit,
        length(text) - length(regexp_replace(text, '\\s', '', 'g'))
            AS n_space_inv,
        list_sum(list_transform({_TOKENS},
            t -> CASE WHEN lower(t) IN ({_STOP_EN}) THEN 1 ELSE 0 END))
            AS n_stop
    FROM documents
    """


_TEXT_STATS_DERIVED = """
    SELECT doc_id, n_chars_c, n_tokens,
        round(CASE WHEN n_tokens > 0
              THEN CAST(n_nospace AS DOUBLE)/n_tokens ELSE 0 END, 4)
            AS avg_token_len,
        round(CASE WHEN n_chars_c > 0
              THEN CAST(n_punct AS DOUBLE)/n_chars_c ELSE 0 END, 4)
            AS punct_ratio,
        round(CASE WHEN n_chars_c > 0
              THEN CAST(n_digit AS DOUBLE)/n_chars_c ELSE 0 END, 4)
            AS digit_ratio,
        round(CASE WHEN n_chars_c > 0
              THEN CAST(n_chars_c - n_nospace AS DOUBLE)/n_chars_c
              ELSE 0 END, 4) AS space_ratio,
        round(CASE WHEN n_tokens > 0
              THEN CAST(COALESCE(n_stop,0) AS DOUBLE)/n_tokens
              ELSE 0 END, 4) AS stopword_ratio_en,
        round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE
            least(CAST(n_tokens AS DOUBLE)/100.0, 1.0) * 0.3
          + least((CASE WHEN n_tokens > 0
                   THEN CAST(COALESCE(n_stop,0) AS DOUBLE)/n_tokens
                   ELSE 0 END) * 5.0, 1.0) * 0.4
          + (1.0 - least((CASE WHEN n_chars_c > 0
                          THEN CAST(n_punct AS DOUBLE)/n_chars_c
                          ELSE 0 END) * 4.0, 1.0)) * 0.2
          + (1.0 - least((CASE WHEN n_chars_c > 0
                          THEN CAST(n_digit AS DOUBLE)/n_chars_c
                          ELSE 0 END) * 4.0, 1.0)) * 0.1 END, 4)
            AS quality_score
    FROM base
"""


def _minhash_cte() -> str:
    """Signatures + banded candidate pairs, mirroring llm.dedup:
    one 32-bit md5-derived hash per shingle, then universal-hash mixing
    ``(a_i * h + b_i) mod P`` per signature component."""
    from cubes_spark.llm.dedup import MINHASH_P, minhash_params

    norm = _NORM
    a, b = minhash_params(16)
    h32 = "CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)"
    components = ", ".join(
        f"list_min(list_transform(hs, h -> ({a[i]} * h + {b[i]}) "
        f"% {MINHASH_P}))"
        for i in range(16)
    )
    return f"""
    WITH sh AS (
        SELECT doc_id,
            list_distinct(list_transform(
                generate_series(1, greatest(length({norm}) - 4, 1)),
                i -> substr({norm}, i, 5))) AS shingles
        FROM documents
    ),
    hashed AS (
        SELECT doc_id,
            list_transform(shingles, s -> {h32} % {MINHASH_P}) AS hs
        FROM sh
    ),
    sig AS (
        SELECT doc_id, [{components}] AS sig
        FROM hashed
    ),
    banded AS (
        SELECT doc_id, sig, b.band_id,
            md5(concat(CAST(b.band_id AS VARCHAR), ',',
                array_to_string(sig[b.band_id*4 + 1 : b.band_id*4 + 4],
                                ','))) AS band_hash
        FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b
    ),
    pairs AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
            l.sig AS sig_a, r.sig AS sig_b
        FROM banded l JOIN banded r
            ON l.band_id = r.band_id AND l.band_hash = r.band_hash
            AND l.doc_id < r.doc_id
    )
    """


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    sql["agg_year"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["slicer_http_agg"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["doc_cdc_dedup"] = """
        WITH docs AS MATERIALIZED (
            SELECT doc_id, text, length(text) AS L FROM documents
        ),
        pos AS (
            SELECT doc_id, text,
                unnest(CASE WHEN L >= 8 THEN range(8, L + 1)
                       ELSE [] END) AS p
            FROM docs
        ),
        bnd AS (
            -- Karp-Rabin window polynomial, base 37 (matches
            -- cdc_chunks' integer boundary hash token-for-token)
            SELECT doc_id, p FROM pos
            WHERE ((CAST(ascii(substr(text, p - 7, 1)) AS BIGINT) + 1) * 1
                  + (CAST(ascii(substr(text, p - 6, 1)) AS BIGINT) + 1) * 37
                  + (CAST(ascii(substr(text, p - 5, 1)) AS BIGINT) + 1) * 1369
                  + (CAST(ascii(substr(text, p - 4, 1)) AS BIGINT) + 1) * 50653
                  + (CAST(ascii(substr(text, p - 3, 1)) AS BIGINT) + 1) * 1874161
                  + (CAST(ascii(substr(text, p - 2, 1)) AS BIGINT) + 1) * 69343957
                  + (CAST(ascii(substr(text, p - 1, 1)) AS BIGINT) + 1) * 2565726409
                  + (CAST(ascii(substr(text, p - 0, 1)) AS BIGINT) + 1) * 94931877133) % 32 = 0
        ),
        bounds AS MATERIALIZED (
            SELECT d.doc_id, d.text,
                list_sort(list_distinct([0]
                    || COALESCE(list(b.p)
                        FILTER (WHERE b.p IS NOT NULL), [])
                    || [d.L])) AS bs
            FROM docs d LEFT JOIN bnd b ON d.doc_id = b.doc_id
            GROUP BY d.doc_id, d.text, d.L
        ),
        idx AS (
            SELECT doc_id, text, bs,
                unnest(generate_series(1, len(bs) - 1)) AS i
            FROM bounds
        ),
        chunks AS MATERIALIZED (
            SELECT doc_id,
                CAST(concat('0x', substr(md5(concat('cdch:',
                    substr(text, bs[i] + 1, bs[i + 1] - bs[i]))),
                    1, 15)) AS BIGINT) AS chunk_hash
            FROM idx
        ),
        counts AS (
            SELECT chunk_hash, count(DISTINCT doc_id) AS nd
            FROM chunks GROUP BY 1
        )
        SELECT c.doc_id,
            CAST(count(*) AS BIGINT) AS n_chunks,
            CAST(SUM(CASE WHEN k.nd > 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_dup_chunks,
            (10000 * CAST(SUM(CASE WHEN k.nd > 1 THEN 1 ELSE 0 END)
                          AS BIGINT))
                // CAST(count(*) AS BIGINT) AS dup_chunk_bp
        FROM chunks c JOIN counts k USING (chunk_hash)
        GROUP BY 1"""

    sql["orders_quantiles"] = """
        WITH vals AS (
            SELECT o_orderpriority AS pri,
                CAST(round(o_totalprice * 100) AS BIGINT) // 100000 AS bucket
            FROM orders
        ),
        hist AS MATERIALIZED (
            SELECT pri, bucket, CAST(count(*) AS BIGINT) AS n
            FROM vals GROUP BY 1, 2
        ),
        cum AS (
            SELECT pri, bucket, n,
                CAST(SUM(n) OVER (PARTITION BY pri ORDER BY bucket)
                     AS BIGINT) AS cum_count
            FROM hist
        ),
        tot AS (SELECT pri, CAST(SUM(n) AS BIGINT) AS total
                FROM hist GROUP BY 1),
        qs AS (SELECT unnest([2500, 5000, 9000, 9900]) AS q_bp),
        hit AS (
            SELECT c.pri, q.q_bp, c.bucket, c.cum_count, t.total
            FROM cum c JOIN tot t ON c.pri = t.pri CROSS JOIN qs q
            WHERE c.cum_count * 10000 >= q.q_bp * t.total
        )
        SELECT pri AS o_orderpriority,
            CAST(q_bp AS BIGINT) AS q_bp,
            CAST(min(bucket) AS BIGINT) AS bucket,
            CAST(min(bucket) * 100000 AS BIGINT) AS est_lo,
            CAST((min(bucket) + 1) * 100000 - 1 AS BIGINT) AS est_hi,
            CAST(min_by(cum_count, bucket) AS BIGINT) AS cum_count,
            CAST(min(total) AS BIGINT) AS total
        FROM hit GROUP BY 1, 2"""

    sql["part_triangles"] = """
        WITH baskets AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem
        ),
        edges AS MATERIALIZED (
            SELECT l.i AS a, r.i AS b
            FROM baskets l JOIN baskets r ON l.b = r.b AND l.i < r.i
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        tris AS MATERIALIZED (
            SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
            FROM edges e1
            JOIN edges e2 ON e2.a = e1.b
            JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        nodes AS (
            SELECT n1 AS node FROM tris
            UNION ALL SELECT n2 FROM tris
            UNION ALL SELECT n3 FROM tris
        )
        SELECT CAST(node AS BIGINT) AS node,
            CAST(count(*) AS BIGINT) AS n_triangles
        FROM nodes GROUP BY 1"""

    # seasonality: integer cross-multiplied slot-vs-overall mean.
    sql["events_seasonality"] = """
        WITH b AS (
            SELECT event_type,
                CAST(hour(ts) AS BIGINT) AS slot,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     AS BIGINT) AS sum_cents
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, slot, n_rows, sum_cents,
            CAST((1000000 * CAST(sum_cents AS HUGEINT)
                  * sum(n_rows) OVER g)
                 // (CAST(sum(sum_cents) OVER g AS HUGEINT) * n_rows)
                 AS BIGINT) AS index_ppm
        FROM b
        WINDOW g AS (PARTITION BY event_type)"""

    # ABC: share_from_top(v) = S - wcum(v) + v*c(v) at the value
    # grain (ties share a class), HUGEINT arithmetic.
    sql["orders_abc"] = """
        WITH m AS MATERIALIZED (
            SELECT o_custkey,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
            FROM orders GROUP BY 1
        ),
        h AS (SELECT x AS v, count(*) AS c FROM m GROUP BY 1),
        ch AS (
            SELECT v, c,
                sum(CAST(v AS HUGEINT) * c) OVER (ORDER BY v) AS wcum
            FROM h
        ),
        tot AS (SELECT max(wcum) AS s FROM ch),
        shares AS (
            SELECT v,
                CAST((10000 * (tot.s - wcum + CAST(v AS HUGEINT) * c))
                     // tot.s AS BIGINT) AS share_from_top_bp
            FROM ch, tot
        )
        SELECT m.o_custkey, CAST(m.x AS BIGINT) AS total_cents,
            sh.share_from_top_bp,
            CASE WHEN sh.share_from_top_bp <= 8000 THEN 'A'
                 WHEN sh.share_from_top_bp <= 9500 THEN 'B'
                 ELSE 'C' END AS abc_class
        FROM m JOIN shares sh ON m.x = sh.v"""

    # readability: same regex counts; // floors == div truncation for
    # the all-positive operands.
    sql["doc_readability"] = r"""
        WITH base AS (
            SELECT doc_id,
                CASE WHEN trim(text) = '' THEN []
                    ELSE string_split_regex(trim(text), '\s+') END AS t,
                greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS n_sentences
            FROM documents
        ),
        agg AS (
            SELECT doc_id,
                CAST(len(t) AS BIGINT) AS n_words,
                CAST(n_sentences AS BIGINT) AS n_sentences,
                CAST(list_sum(list_transform(t, w ->
                    greatest(len(regexp_extract_all(w,
                        '[aeiouyAEIOUY]+')), 1))) AS BIGINT)
                    AS n_syllables
            FROM base WHERE len(t) > 0
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
            CAST(206835 - (1015 * n_words) // n_sentences
                 - (84600 * n_syllables) // n_words AS BIGINT)
                AS score_milli
        FROM agg"""

    # Gini–Simpson diversity: all-integer (n² − Σc²)/n² in HUGEINT.
    sql["doc_diversity"] = r"""
        WITH toks AS (
            SELECT doc_id, unnest(
                CASE WHEN trim(text) = '' THEN []
                ELSE string_split_regex(trim(text), '\s+') END) AS w
            FROM documents
        ),
        per AS (
            SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2
        ),
        agg AS (
            SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_distinct,
                sum(CAST(c AS HUGEINT) * c) AS s2
            FROM per GROUP BY 1
        )
        SELECT doc_id, n_tokens, n_distinct,
            CAST((1000000 * (CAST(n_tokens AS HUGEINT) * n_tokens
                             - s2))
                 // (CAST(n_tokens AS HUGEINT) * n_tokens)
                 AS BIGINT) AS diversity_ppm
        FROM agg"""

    # source overlap: distinct (source, 5-shingle) grain, pairwise
    # intersection by shingle equi-join, union via inclusion-exclusion.
    sql["source_overlap"] = f"""
        WITH sh AS MATERIALIZED (
            SELECT DISTINCT source AS g, s FROM (
                SELECT source, unnest(list_distinct(list_transform(
                    generate_series(1,
                        greatest(length({_NORM}) - 4, 1)),
                    i -> substr({_NORM}, i, 5)))) AS s
                FROM documents)
        ),
        sizes AS (SELECT g, count(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.g AS ga, b.g AS gb, count(*) AS n_common
            FROM sh a JOIN sh b ON a.s = b.s AND a.g < b.g
            GROUP BY 1, 2
        )
        SELECT ga AS source_a, gb AS source_b,
            CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
            CAST(n_common AS BIGINT) AS n_common,
            CAST((10000 * n_common) // (sa.n + sb.n - n_common)
                 AS BIGINT) AS jaccard_bp
        FROM inter
        JOIN sizes sa ON ga = sa.g
        JOIN sizes sb ON gb = sb.g"""

    # IQR: rank-based quartiles per group, fences in doubled cents.
    sql["lineitem_iqr"] = """
        WITH base AS MATERIALIZED (
            SELECT l_returnflag AS g,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS v
            FROM lineitem
        ),
        ranked AS (
            SELECT g, v,
                row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY g) AS n
            FROM base
        ),
        q AS (
            SELECT g, CAST(max(n) AS BIGINT) AS n_rows,
                min(CASE WHEN rn >= (n + 3) // 4 THEN v END)
                    AS q1_cents,
                min(CASE WHEN rn >= (3 * n + 3) // 4 THEN v END)
                    AS q3_cents
            FROM ranked GROUP BY g
        )
        SELECT q.g AS l_returnflag, q.n_rows, q.q1_cents, q.q3_cents,
            CAST(sum(CASE WHEN
                2 * b.v < 2 * q.q1_cents - 3 * (q.q3_cents - q.q1_cents)
                OR 2 * b.v > 2 * q.q3_cents + 3 * (q.q3_cents - q.q1_cents)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM base b JOIN q ON b.g = q.g
        GROUP BY 1, 2, 3, 4"""

    # windowFunnel, earliest-chain: first step-1 time, first LATER
    # step-2 time, ...; every link's window measured from t1.
    sql["events_winfunnel"] = """
        WITH ev AS MATERIALIZED (
            SELECT user_id AS k, ts AS t,
                CASE event_type WHEN 'signup' THEN 0
                    WHEN 'view' THEN 1 WHEN 'purchase' THEN 2 END AS s
            FROM events
            WHERE event_type IN ('signup', 'view', 'purchase')
        ),
        s0 AS (SELECT k, min(t) AS t0 FROM ev WHERE s = 0 GROUP BY k),
        s1 AS (
            SELECT e.k, min(e.t) AS tv FROM ev e
            JOIN s0 ON e.k = s0.k
            WHERE e.s = 1 AND e.t > s0.t0 GROUP BY e.k
        ),
        s2 AS (
            SELECT e.k, min(e.t) AS tp FROM ev e
            JOIN s1 ON e.k = s1.k
            WHERE e.s = 2 AND e.t > s1.tv GROUP BY e.k
        )
        SELECT s0.k AS user_id, s0.t0 AS t1,
            CAST(CASE WHEN s1.tv IS NOT NULL AND
                    date_diff('microsecond', s0.t0, s1.tv)
                        <= 86400000000
                 THEN CASE WHEN s2.tp IS NOT NULL AND
                         date_diff('microsecond', s0.t0, s2.tp)
                             <= 86400000000
                      THEN 3 ELSE 2 END
                 ELSE 1 END AS BIGINT) AS steps_reached
        FROM s0
        LEFT JOIN s1 ON s0.k = s1.k
        LEFT JOIN s2 ON s0.k = s2.k"""

    # CUSUM: scaled integer statistic s_i = n*P_i - i*T in HUGEINT;
    # argmax |s| with earliest-bucket tiebreak.
    sql["events_cusum"] = """
        WITH b AS MATERIALIZED (
            SELECT event_type, date_trunc('hour', ts) AS bt,
                sum(CAST(round(value * 100) AS BIGINT)) AS x
            FROM events GROUP BY 1, 2
        ),
        s AS (
            SELECT event_type, bt,
                CAST(count(*) OVER g AS HUGEINT)
                    * CAST(sum(x) OVER o AS HUGEINT)
                - CAST(row_number() OVER (PARTITION BY event_type
                                          ORDER BY bt) AS HUGEINT)
                    * CAST(sum(x) OVER g AS HUGEINT) AS s,
                count(*) OVER g AS n
            FROM b
            WINDOW o AS (PARTITION BY event_type ORDER BY bt
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW),
                   g AS (PARTITION BY event_type)
        )
        SELECT event_type, bt AS cp_ts,
            CAST(s AS BIGINT) AS cp_stat,
            CAST(n AS BIGINT) AS n_buckets
        FROM (
            SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY abs(s) DESC, bt) AS rn
            FROM s
        ) WHERE rn = 1"""

    # PMI collocations: same whitespace tokenizer as token_array,
    # bigrams via 1-based list indexing, HUGEINT lift replay.
    sql["doc_pmi"] = r"""
        WITH toks AS MATERIALIZED (
            SELECT CASE WHEN trim(text) = '' THEN []
                   ELSE string_split_regex(trim(text), '\s+') END AS t
            FROM documents
        ),
        uni AS MATERIALIZED (
            SELECT u AS w, count(*) AS c
            FROM (SELECT unnest(t) AS u FROM toks) GROUP BY 1
        ),
        n AS (SELECT CAST(sum(c) AS HUGEINT) AS nn FROM uni),
        big AS (
            SELECT t[i] AS wa, t[i + 1] AS wb
            FROM (SELECT t, unnest(generate_series(1, len(t) - 1))
                      AS i
                  FROM toks WHERE len(t) >= 2)
        ),
        pairs AS (
            SELECT wa, wb, count(*) AS p FROM big
            GROUP BY 1, 2 HAVING count(*) >= 5
        )
        SELECT p.wa AS word_a, p.wb AS word_b,
            CAST(p.p AS BIGINT) AS n_pair,
            CAST(a.c AS BIGINT) AS n_a,
            CAST(b.c AS BIGINT) AS n_b,
            CAST((1000000 * CAST(p.p AS HUGEINT) * n.nn)
                 // (CAST(a.c AS HUGEINT) * b.c) AS BIGINT)
                AS lift_ppm
        FROM pairs p
        JOIN uni a ON p.wa = a.w
        JOIN uni b ON p.wb = b.w, n"""

    # k-core: unroll the 3 synchronous peel rounds — degree count over
    # the surviving doubled edge list, drop-all-below-k, re-induce.
    kcore_parts = ["""baskets AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem
        ),
        e AS MATERIALIZED (
            SELECT l.i AS a, r.i AS b
            FROM baskets l JOIN baskets r ON l.b = r.b AND l.i < r.i
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        u0 AS MATERIALIZED (
            SELECT a AS s, b AS d FROM e
            UNION SELECT b, a FROM e
        )"""]
    for _r in range(1, 4):
        kcore_parts.append(f"""kk{_r} AS MATERIALIZED (
            SELECT s FROM u{_r - 1} GROUP BY s HAVING count(*) >= 3
        ),
        u{_r} AS MATERIALIZED (
            SELECT u.s, u.d FROM u{_r - 1} u
            JOIN kk{_r} x ON u.s = x.s
            JOIN kk{_r} y ON u.d = y.s
        )""")
    sql["part_kcore"] = (
        "WITH " + ",\n        ".join(kcore_parts)
        + """
        SELECT CAST(s AS BIGINT) AS node,
            CAST(count(*) AS BIGINT) AS degree
        FROM u3 GROUP BY 1""")

    sql["events_stream_hll"] = """
        WITH h AS MATERIALIZED (
            SELECT date_trunc('day', ts) AS d,
                CAST(concat('0x', substr(md5(concat('hll:',
                    CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT)
                    AS h
            FROM events
        ),
        ranks AS (
            SELECT d, CAST(h % 32 AS INT) AS bucket,
                CASE WHEN (h // 32) % 1099511627776 = 0 THEN 41
                     ELSE 41 - length(bin(
                        (h // 32) % 1099511627776)) END AS r
            FROM h
        ),
        regs AS MATERIALIZED (
            SELECT d, bucket, MAX(r) AS register
            FROM ranks GROUP BY 1, 2
        ),
        spine AS (
            SELECT f.d, b.bucket
            FROM (SELECT DISTINCT d FROM regs) f
            CROSS JOIN (SELECT unnest(generate_series(0, 31))
                        AS bucket) b
        ),
        sums AS (
            SELECT s.d,
                CAST(SUM(CAST(power(2.0,
                    41 - COALESCE(r.register, 0)) AS BIGINT))
                    AS BIGINT) AS s
            FROM spine s LEFT JOIN regs r
                ON s.d = r.d AND s.bucket = r.bucket
            GROUP BY 1
        ),
        est AS (
            SELECT d,
                CAST((6978 * (2251799813685248 // s)) // 10000
                     AS BIGINT) AS hll_est
            FROM sums
        ),
        exact AS (
            SELECT date_trunc('day', ts) AS d,
                CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY 1
        )
        SELECT e.d AS window_start, e.n_exact, est.hll_est,
            abs(est.hll_est - e.n_exact) * 2 <= e.n_exact AS hll_ok
        FROM exact e JOIN est ON e.d = est.d"""

    sql["lineitem_hll"] = """
        WITH h AS MATERIALIZED (
            SELECT l_returnflag AS flag,
                CAST(concat('0x', substr(md5(concat('hll:',
                    CAST(l_orderkey AS VARCHAR))), 1, 15)) AS BIGINT)
                    AS h
            FROM lineitem
        ),
        ranks AS (
            SELECT flag, CAST(h % 256 AS INT) AS bucket,
                CASE WHEN (h // 256) % 1099511627776 = 0 THEN 41
                     ELSE 41 - length(bin(
                        (h // 256) % 1099511627776)) END AS r
            FROM h
        ),
        regs AS MATERIALIZED (
            SELECT flag, bucket, MAX(r) AS register
            FROM ranks GROUP BY 1, 2
        ),
        spine AS (
            SELECT f.flag, b.bucket
            FROM (SELECT DISTINCT flag FROM regs) f
            CROSS JOIN (SELECT unnest(generate_series(0, 255))
                        AS bucket) b
        ),
        sums AS (
            SELECT s.flag,
                CAST(SUM(CAST(power(2.0,
                    41 - COALESCE(r.register, 0)) AS BIGINT))
                    AS BIGINT) AS s
            FROM spine s LEFT JOIN regs r
                ON s.flag = r.flag AND s.bucket = r.bucket
            GROUP BY 1
        ),
        est AS (
            SELECT flag,
                CAST((7183 * (144115188075855872 // s)) // 10000
                     AS BIGINT) AS hll_est
            FROM sums
        ),
        exact AS (
            SELECT l_returnflag AS flag,
                CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_exact
            FROM lineitem GROUP BY 1
        )
        SELECT e.flag AS l_returnflag, e.n_exact, est.hll_est,
            abs(est.hll_est - e.n_exact) * 4 <= e.n_exact AS hll_ok
        FROM exact e JOIN est ON e.flag = est.flag"""

    sql["orders_kmv"] = """
        WITH h AS MATERIALIZED (
            SELECT DISTINCT o_orderpriority AS g,
                CAST(concat('0x', substr(md5(concat('kmv:',
                    CAST(o_custkey AS VARCHAR))), 1, 15)) AS BIGINT)
                    AS h
            FROM orders
        ),
        r AS (
            SELECT g, h,
                row_number() OVER (PARTITION BY g ORDER BY h) AS rn
            FROM h
        ),
        kmv AS MATERIALIZED (
            SELECT g, list(h ORDER BY h) AS hs
            FROM r WHERE rn <= 256 GROUP BY 1
        ),
        pairs AS MATERIALIZED (
            SELECT a.g AS ga, b.g AS gb, a.hs AS ka, b.hs AS kb,
                list_sort(list_distinct(a.hs || b.hs))[1:256] AS merged
            FROM kmv a JOIN kmv b ON a.g < b.g
        ),
        calc AS MATERIALIZED (
            SELECT ga, gb, CAST(len(merged) AS BIGINT) AS m,
                CAST(len(list_filter(merged,
                    x -> list_contains(ka, x)
                         AND list_contains(kb, x))) AS BIGINT) AS c,
                CASE WHEN len(merged) < 256
                     THEN CAST(len(merged) AS BIGINT)
                     ELSE CAST((CAST(255 AS HUGEINT) *
                        CAST(1152921504606846976 AS HUGEINT))
                        // CAST(merged[256] AS HUGEINT) AS BIGINT)
                END AS u
            FROM pairs
        ),
        d AS MATERIALIZED (
            SELECT DISTINCT o_orderpriority AS g, o_custkey AS c
            FROM orders
        ),
        counts AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1
        ),
        inter AS (
            SELECT a.g AS ga, b.g AS gb,
                CAST(count(*) AS BIGINT) AS n_inter
            FROM d a JOIN d b ON a.c = b.c AND a.g < b.g
            GROUP BY 1, 2
        )
        SELECT x.ga AS group_a, x.gb AS group_b,
            x.u AS union_est,
            CAST((CAST(x.c AS HUGEINT) * CAST(x.u AS HUGEINT))
                 // CAST(x.m AS HUGEINT) AS BIGINT) AS inter_est,
            (10000 * x.c) // x.m AS jaccard_bp,
            ca.n + cb.n - i.n_inter AS n_union,
            i.n_inter,
            abs(x.u - (ca.n + cb.n - i.n_inter)) * 4
                <= ca.n + cb.n - i.n_inter AS union_ok,
            abs(CAST((CAST(x.c AS HUGEINT) * CAST(x.u AS HUGEINT))
                     // CAST(x.m AS HUGEINT) AS BIGINT) - i.n_inter)
                * 4 <= i.n_inter AS inter_ok
        FROM calc x
        JOIN inter i ON x.ga = i.ga AND x.gb = i.gb
        JOIN counts ca ON ca.g = x.ga
        JOIN counts cb ON cb.g = x.gb"""

    sql["orders_psample"] = """
        WITH w AS MATERIALIZED (
            SELECT o_orderpriority AS g, o_orderkey AS id,
                CAST(round(o_totalprice * 100) AS BIGINT) AS weight,
                CAST(concat('0x', substr(md5(concat('ps:',
                    CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT)
                    + 1 AS u
            FROM orders
        ),
        p AS MATERIALIZED (
            SELECT g, id, weight,
                CAST(least((CAST(weight AS HUGEINT) *
                    CAST(1152921504606846976 AS HUGEINT))
                    // CAST(u AS HUGEINT),
                    CAST(4611686018427387904 AS HUGEINT))
                    AS BIGINT) AS priority
            FROM w
        ),
        r AS MATERIALIZED (
            SELECT g, id, weight, priority,
                row_number() OVER (PARTITION BY g
                    ORDER BY priority DESC, id ASC) AS rn
            FROM p
        ),
        tau AS (SELECT g, priority AS tau FROM r WHERE rn = 257),
        est AS (
            SELECT r.g,
                CAST(SUM(greatest(r.weight, COALESCE(t.tau, 0)))
                     AS BIGINT) AS est_sum,
                CAST(count(*) AS BIGINT) AS n_sampled
            FROM r LEFT JOIN tau t ON r.g = t.g
            WHERE r.rn <= 256 GROUP BY 1
        ),
        exact AS (
            SELECT o_orderpriority AS g,
                CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS exact_sum
            FROM orders GROUP BY 1
        )
        SELECT e.g AS o_orderpriority, e.est_sum, e.n_sampled,
            x.exact_sum,
            abs(e.est_sum - x.exact_sum) * 4 <= x.exact_sum AS ps_ok
        FROM est e JOIN exact x ON e.g = x.g"""

    sql["lineitem_zorder"] = """
        WITH stats AS MATERIALIZED (
            SELECT CAST(min(l_partkey) AS BIGINT) AS mn_l_partkey,
                CAST(max(l_partkey) AS BIGINT) AS mx_l_partkey,
                CAST(min(l_suppkey) AS BIGINT) AS mn_l_suppkey,
                CAST(max(l_suppkey) AS BIGINT) AS mx_l_suppkey
            FROM lineitem
        ),
        scaled AS (
            SELECT l_partkey, l_suppkey,
                (((CAST(l_partkey AS BIGINT) - mn_l_partkey) * 65535) // greatest(mx_l_partkey - mn_l_partkey, 1)) AS s0,
                (((CAST(l_suppkey AS BIGINT) - mn_l_suppkey) * 65535) // greatest(mx_l_suppkey - mn_l_suppkey, 1)) AS s1
            FROM lineitem CROSS JOIN stats
        ),
        z AS (
            SELECT l_partkey, l_suppkey,
                (((s0 >> 0) & 1) << 0) | (((s1 >> 0) & 1) << 1) | (((s0 >> 1) & 1) << 2) | (((s1 >> 1) & 1) << 3) | (((s0 >> 2) & 1) << 4) | (((s1 >> 2) & 1) << 5) | (((s0 >> 3) & 1) << 6) | (((s1 >> 3) & 1) << 7) | (((s0 >> 4) & 1) << 8) | (((s1 >> 4) & 1) << 9) | (((s0 >> 5) & 1) << 10) | (((s1 >> 5) & 1) << 11) | (((s0 >> 6) & 1) << 12) | (((s1 >> 6) & 1) << 13) | (((s0 >> 7) & 1) << 14) | (((s1 >> 7) & 1) << 15) | (((s0 >> 8) & 1) << 16) | (((s1 >> 8) & 1) << 17) | (((s0 >> 9) & 1) << 18) | (((s1 >> 9) & 1) << 19) | (((s0 >> 10) & 1) << 20) | (((s1 >> 10) & 1) << 21) | (((s0 >> 11) & 1) << 22) | (((s1 >> 11) & 1) << 23) | (((s0 >> 12) & 1) << 24) | (((s1 >> 12) & 1) << 25) | (((s0 >> 13) & 1) << 26) | (((s1 >> 13) & 1) << 27) | (((s0 >> 14) & 1) << 28) | (((s1 >> 14) & 1) << 29) | (((s0 >> 15) & 1) << 30) | (((s1 >> 15) & 1) << 31) AS z
            FROM scaled
        )
        SELECT z // 16777216 AS z_bucket,
            CAST(count(*) AS BIGINT) AS n,
            min(l_partkey) AS min_part, max(l_partkey) AS max_part,
            min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
        FROM z GROUP BY 1"""

    sql["cuboid_greedy"] = """
        WITH proj AS (
            SELECT o_orderpriority AS pri, o_orderstatus AS st,
                year(o_orderdate) AS yr
            FROM orders
        ),
        cube_rows AS MATERIALIZED (
            SELECT GROUPING_ID(pri, st, yr) AS gid
            FROM proj GROUP BY CUBE(pri, st, yr)
        ),
        sizes AS MATERIALIZED (
            SELECT CAST(gid AS BIGINT) AS grouping_id,
                CAST(3 - bit_count(gid) AS INT) AS n_dims,
                CAST(count(*) AS BIGINT) AS size
            FROM cube_rows GROUP BY 1, 2
        ),
        base AS (SELECT size AS base_size FROM sizes
                 WHERE grouping_id = 0),
        ben AS (
            SELECT s.grouping_id, s.n_dims, s.size,
                CASE WHEN s.grouping_id = 0 THEN 0
                     ELSE CAST((1 << s.n_dims) AS BIGINT)
                          * (b.base_size - s.size) END AS benefit_r1
            FROM sizes s CROSS JOIN base b
        )
        SELECT grouping_id, n_dims, size, benefit_r1,
            grouping_id != 0 AND row_number() OVER (
                ORDER BY benefit_r1 DESC, size ASC, grouping_id ASC)
                = 1 AS picked_first
        FROM ben"""

    sql["part_links"] = """
        WITH baskets AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem
        ),
        edges AS MATERIALIZED (
            SELECT l.i AS a, r.i AS b
            FROM baskets l JOIN baskets r ON l.b = r.b AND l.i < r.i
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        adj AS MATERIALIZED (
            SELECT a AS w, b AS n FROM edges
            UNION ALL SELECT b, a FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM adj GROUP BY 1
        ),
        common AS MATERIALIZED (
            SELECT p1.n AS na, p2.n AS nb,
                CAST(count(*) AS BIGINT) AS n_common
            FROM adj p1 JOIN adj p2
                ON p1.w = p2.w AND p1.n < p2.n
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        cand AS (
            SELECT c.* FROM common c
            LEFT JOIN edges e ON e.a = c.na AND e.b = c.nb
            WHERE e.a IS NULL
        )
        SELECT CAST(c.na AS BIGINT) AS node_a,
            CAST(c.nb AS BIGINT) AS node_b,
            c.n_common,
            da.d + db.d - c.n_common AS n_union,
            (10000 * c.n_common) // (da.d + db.d - c.n_common)
                AS jaccard_bp
        FROM cand c
        JOIN deg da ON da.n = c.na
        JOIN deg db ON db.n = c.nb"""

    sql["dq_orders"] = """
        WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows
                   FROM orders),
        rows_checks AS (
            SELECT 'not_null:o_orderkey' AS rule,
                'not_null' AS "check", n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderkey IS NULL) AS n_violations
            FROM n
            UNION ALL
            SELECT 'in_range:o_totalprice', 'in_range', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_totalprice < 0 OR o_totalprice > 200000
                    OR o_totalprice IS NULL)
            FROM n
            UNION ALL
            SELECT 'accepted_values:o_orderpriority',
                'accepted_values', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH',
                    '3-MEDIUM', '4-NOT SPECIFIED')
                    OR o_orderpriority IS NULL)
            FROM n
            UNION ALL
            SELECT 'matches:o_orderstatus', 'matches', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE NOT regexp_matches(o_orderstatus, '^[OF]$')
                    OR o_orderstatus IS NULL)
            FROM n
            UNION ALL
            SELECT 'big_ticket', 'expression', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders
                 WHERE NOT COALESCE(o_totalprice >= 5000, FALSE))
            FROM n
            UNION ALL
            SELECT 'unique:o_orderkey', 'unique', n.n_rows,
                (SELECT CAST(count(*) - count(DISTINCT o_orderkey)
                    AS BIGINT) FROM orders)
            FROM n
            UNION ALL
            SELECT 'repeat_customers', 'unique', n.n_rows,
                (SELECT CAST(count(*) - count(DISTINCT o_custkey)
                    AS BIGINT) FROM orders)
            FROM n
            UNION ALL
            SELECT 'foreign_key:o_custkey', 'foreign_key', n.n_rows,
                (SELECT CAST(count(*) AS BIGINT) FROM orders o
                 WHERE o.o_custkey IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey))
            FROM n
        )
        SELECT rule, "check", n_rows, n_violations,
            n_violations = 0 AS passed
        FROM rows_checks"""

    sql["basket_pairs"] = """
        WITH baskets AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem
        ),
        tot AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n
                FROM baskets),
        sup AS MATERIALIZED (
            SELECT i, CAST(count(*) AS BIGINT) AS n
            FROM baskets GROUP BY 1
        ),
        pairs AS (
            SELECT l.i AS item_a, r.i AS item_b,
                CAST(count(*) AS BIGINT) AS n_ab
            FROM baskets l JOIN baskets r
                ON l.b = r.b AND l.i < r.i
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT CAST(p.item_a AS BIGINT) AS item_a,
            CAST(p.item_b AS BIGINT) AS item_b,
            p.n_ab, sa.n AS n_a, sb.n AS n_b,
            (10000 * p.n_ab * t.n) // (sa.n * sb.n) AS lift_bp
        FROM pairs p
        JOIN sup sa ON p.item_a = sa.i
        JOIN sup sb ON p.item_b = sb.i
        CROSS JOIN tot t"""

    # Gini from the cumulative value histogram: a distinct value v
    # (count c, cumulative cum) occupies ranks cum-c+1..cum, whose
    # total is c*(2*cum-c+1)//2; G = (2*Σv*ranks - (n+1)*Σx)/(n*Σx)
    # in HUGEINT (Spark side: decimal(38,0)).
    sql["orders_gini"] = """
        WITH m AS (
            SELECT o_custkey,
                sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
            FROM orders GROUP BY 1
        ),
        h AS (SELECT x AS v, count(*) AS c FROM m GROUP BY 1),
        ch AS (SELECT v, c, sum(c) OVER (ORDER BY v) AS cum FROM h),
        agg AS (
            SELECT CAST(sum(c) AS HUGEINT) AS n,
                sum(CAST(v AS HUGEINT) * c) AS s,
                sum(CAST(v AS HUGEINT)
                    * ((c * (2 * cum - c + 1)) // 2)) AS sr
            FROM ch
        )
        SELECT CAST(n AS BIGINT) AS n_keys,
            CAST(s AS BIGINT) AS total_cents,
            CAST((10000 * (2 * sr - (n + 1) * s)) // (n * s)
                 AS BIGINT) AS gini_bp
        FROM agg"""

    # sequence match: string_agg in (ts, event_id) order replays
    # array_sort(collect_list(struct)); RE2 and Java regex agree on
    # non-overlapping counts and leftmost match for anchor-free
    # patterns; first occurrence OF the leftmost matched text IS the
    # match position (an earlier occurrence would itself have matched).
    sql["lineitem_hilbert"] = _guarded_oracle(
        _hilbert_oracle, "lineitem_hilbert")
    sql["doc_hits"] = _guarded_oracle(_hits_oracle, "doc_hits")

    # Clamped running balance: the zero-floor closed form
    # B_i = S_i - min(0, runmin(S)); clamp rows are the prefix sum's
    # new strict minima below zero; final row by (ts, event_id) DESC.
    sql["events_balance"] = """
        WITH d AS (
            SELECT user_id, ts, event_id,
                CAST(round(value * 100) AS BIGINT)
                * (CASE WHEN event_type = 'error' THEN -1 ELSE 1 END)
                    AS dlt
            FROM events
        ),
        s AS (
            SELECT user_id, ts, event_id,
                sum(dlt) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sm
            FROM d
        ),
        b AS (
            SELECT user_id, ts, event_id,
                sm - least(0, min(sm) OVER w_run) AS balance,
                sm < least(0, COALESCE(min(sm) OVER w_prev, 0))
                    AS clamped,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC)
                    AS rn
            FROM s
            WINDOW w_run AS (PARTITION BY user_id
                             ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW),
                   w_prev AS (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING)
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
            CAST(max(CASE WHEN rn = 1 THEN balance END) AS BIGINT)
                AS final_balance,
            CAST(sum(CASE WHEN clamped THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clamps
        FROM b GROUP BY user_id"""

    # Holt smoothing: the same fixed-point walk as a recursive CTE
    # carrying (l, b) per group; >> floors on both engines.
    sql["events_holt"] = """
        WITH RECURSIVE b AS MATERIALIZED (
            SELECT event_type AS g, date_trunc('day', ts) AS d,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        lists AS (
            SELECT g, list(y ORDER BY d) AS ys,
                count(*) AS n
            FROM b GROUP BY g HAVING count(*) >= 2
        ),
        walk AS (
            SELECT g, n, ys, 2 AS t,
                CAST(ys[1] AS BIGINT) AS l,
                CAST(ys[2] - ys[1] AS BIGINT) AS bt
            FROM lists
            UNION ALL
            SELECT g, n, ys, t + 1,
                (ys[t + 1] + l + bt) >> 1,
                (((ys[t + 1] + l + bt) >> 1) - l + bt) >> 1
            FROM walk WHERE t < n
        )
        SELECT g AS event_type, CAST(n AS BIGINT) AS n_buckets,
            l AS level_cents, bt AS trend_cents,
            CAST(l + 1 * bt AS BIGINT) AS forecast_cents
        FROM walk WHERE t = n"""

    # Bitmap rollup is exact, so the oracle is plain count(distinct)
    # at both grains — equality proves the merged bitmaps lose
    # nothing.
    sql["events_bitmap"] = """
        SELECT event_type,
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
        UNION ALL
        SELECT '(all)',
            CAST(count(DISTINCT user_id) AS BIGINT)
        FROM events WHERE user_id IS NOT NULL"""

    # RAKE: replay tokenization, the stopword/punctuation delimiting,
    # the gaps-and-islands phrase assembly and the integer
    # degree/frequency scores end-to-end.  Island constants differ by
    # a fixed 1 (0- vs 1-based positions) — only within-doc equality
    # matters.
    sql["doc_rake"] = r"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id,
                CASE WHEN trim(lower(text)) = '' THEN []
                     ELSE string_split_regex(trim(lower(text)),
                                             '\s+') END AS t
            FROM documents
        ),
        words AS MATERIALIZED (
            SELECT doc_id, p, w FROM (
                SELECT doc_id, i AS p, t[i] AS w
                FROM (SELECT doc_id, t,
                          unnest(generate_series(1, len(t))) AS i
                      FROM toks)
            )
            WHERE w <> ''
              AND w NOT IN ('the','and','of','to','in','is','that',
                            'it','was','for')
              AND NOT regexp_matches(w, '[^a-z0-9]')
        ),
        phr AS MATERIALIZED (
            SELECT doc_id, isl, list(w ORDER BY p) AS ws,
                count(*) AS plen
            FROM (SELECT doc_id, p, w,
                      p - row_number() OVER (PARTITION BY doc_id
                                             ORDER BY p) AS isl
                  FROM words)
            GROUP BY 1, 2 HAVING count(*) <= 4
        ),
        occw AS MATERIALIZED (
            SELECT doc_id, isl, plen, unnest(ws) AS w FROM phr
        ),
        wstats AS MATERIALIZED (
            SELECT w,
                CAST((1000000 * CAST(sum(plen) AS HUGEINT))
                     // count(*) AS BIGINT) AS score
            FROM occw GROUP BY 1
        ),
        occ AS (
            SELECT o.doc_id, o.isl,
                CAST(sum(s.score) AS BIGINT) AS s
            FROM occw o JOIN wstats s ON o.w = s.w
            GROUP BY 1, 2
        )
        SELECT array_to_string(p.ws, ' ') AS phrase,
            CAST(max(p.plen) AS BIGINT) AS n_words,
            CAST(count(*) AS BIGINT) AS n_occurrences,
            CAST(max(o.s) AS BIGINT) AS score_ppm
        FROM phr p
        JOIN occ o ON p.doc_id = o.doc_id AND p.isl = o.isl
        GROUP BY 1 HAVING count(*) >= 2"""

    # Semi-additive LastNonEmpty: the oracle picks each user's last
    # event per month with a row_number window — (ts, event_id) is
    # unique, so it equals Spark's algebraic max(struct) pick.
    sql["events_semiadd"] = """
        WITH v AS (
            SELECT event_type, date_trunc('month', ts) AS bucket,
                CAST(round(value * 100) AS BIGINT) AS v,
                row_number() OVER (
                    PARTITION BY event_type, user_id,
                        date_trunc('month', ts)
                    ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT event_type, bucket,
            CAST(count(*) AS BIGINT) AS n_entities,
            CAST(sum(v) AS BIGINT) AS last_sum_cents
        FROM v WHERE rn = 1 GROUP BY 1, 2"""

    # ACF: n-scaled integer deviations, lag windows over the bucket
    # series, sign * truncating-div ppm (// on positive operands).
    sql["events_acf"] = """
        WITH b AS MATERIALIZED (
            SELECT event_type AS g, date_trunc('day', ts) AS d,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ),
        s AS (SELECT g, count(*) AS n, sum(y) AS tot
              FROM b GROUP BY 1),
        l AS (
            SELECT b.g, b.d, s.n,
                CAST(s.n AS HUGEINT) * y - CAST(s.tot AS HUGEINT)
                    AS dv
            FROM b JOIN s USING (g)
        ),
        lg AS (
            SELECT g, n, dv,
                lag(dv, 1) OVER w AS p1, lag(dv, 2) OVER w AS p2,
                lag(dv, 3) OVER w AS p3, lag(dv, 4) OVER w AS p4,
                lag(dv, 5) OVER w AS p5, lag(dv, 6) OVER w AS p6,
                lag(dv, 7) OVER w AS p7
            FROM l
            WINDOW w AS (PARTITION BY g ORDER BY d)
        ),
        pg AS (
            SELECT g, max(n) AS n, sum(dv * dv) AS den,
                sum(dv * p1) AS n1, sum(dv * p2) AS n2,
                sum(dv * p3) AS n3, sum(dv * p4) AS n4,
                sum(dv * p5) AS n5, sum(dv * p6) AS n6,
                sum(dv * p7) AS n7
            FROM lg GROUP BY 1
        ),
        e AS (
            SELECT g, n, den,
                unnest(generate_series(1, 7)) AS k,
                unnest([n1, n2, n3, n4, n5, n6, n7]) AS num
            FROM pg WHERE den > 0
        )
        SELECT g AS event_type, CAST(k AS BIGINT) AS lag,
            CAST(n AS BIGINT) AS n_buckets,
            CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * ((1000000 * abs(num)) // den) AS BIGINT)
                AS acf_ppm
        FROM e WHERE n >= k + 2"""

    # Frequent tokens: the sketch is only a pruning device — the
    # exact answer is plain GROUP BY + HAVING on the share.
    sql["doc_freq_tokens"] = r"""
        WITH t AS MATERIALIZED (
            SELECT unnest(CASE WHEN trim(lower(text)) = '' THEN []
                ELSE string_split_regex(trim(lower(text)), '\s+')
                END) AS v
            FROM documents
        ),
        tt AS MATERIALIZED (SELECT v FROM t WHERE v <> ''),
        n AS (SELECT count(*) AS tot FROM tt),
        c AS (SELECT v, count(*) AS cnt FROM tt GROUP BY 1)
        SELECT v AS value, CAST(cnt AS BIGINT) AS n,
            CAST((1000000 * cnt) // tot AS BIGINT) AS share_ppm
        FROM c, n WHERE (1000000 * cnt) // tot >= 5000"""

    # Burstiness: the gap multiset of a sorted timestamp multiset is
    # tie-order invariant, so window order by ts alone is safe.
    sql["events_burstiness"] = """
        WITH g AS (
            SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts) AS gp
            FROM events
        ),
        a AS (
            SELECT user_id, count(*) AS n, sum(gp) AS s,
                sum(CAST(gp AS HUGEINT) * gp) AS q
            FROM g WHERE gp IS NOT NULL GROUP BY 1
        )
        SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
            CAST(s // n AS BIGINT) AS mean_gap_us,
            CAST((1000000 * (n * q - CAST(s AS HUGEINT) * s))
                 // (CAST(n AS HUGEINT) * s) AS BIGINT) AS fano_ppm
        FROM a WHERE n >= 2 AND s > 0"""

    # Benford: both engines compare against the same nine pre-rounded
    # log10(1+1/d) ppm constants.
    _benford_case = ("CASE digit " + " ".join(
        f"WHEN {d} THEN {p}" for d, p in
        ((1, 301030), (2, 176091), (3, 124939), (4, 96910),
         (5, 79181), (6, 66947), (7, 57992), (8, 51153),
         (9, 45757))) + " END")
    sql["orders_benford"] = f"""
        WITH b AS MATERIALIZED (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
            FROM orders
            WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0
        ),
        d AS (SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1)
                          AS BIGINT) AS digit FROM b),
        n AS (SELECT count(*) AS tot FROM d),
        cnt AS (SELECT digit, count(*) AS nn FROM d GROUP BY 1),
        e AS (
            SELECT digit, nn, (1000000 * nn) // tot AS obs_ppm,
                {_benford_case} AS exp_ppm
            FROM cnt, n
        )
        SELECT digit, CAST(nn AS BIGINT) AS n,
            CAST(obs_ppm AS BIGINT) AS obs_ppm,
            CAST(exp_ppm AS BIGINT) AS exp_ppm,
            CAST(((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm))
                 // exp_ppm AS BIGINT) AS dev_ppm
        FROM e"""

    # Resource-allocation: part_links' graph CTEs, scored as
    # sum(1e6 // deg(center)) in the wedge aggregation.
    sql["part_ra"] = """
        WITH baskets AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem
        ),
        edges AS MATERIALIZED (
            SELECT l.i AS a, r.i AS b
            FROM baskets l JOIN baskets r ON l.b = r.b AND l.i < r.i
            GROUP BY 1, 2 HAVING count(*) >= 2
        ),
        adj AS MATERIALIZED (
            SELECT a AS w, b AS n FROM edges
            UNION ALL SELECT b, a FROM edges
        ),
        deg AS MATERIALIZED (
            SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM adj GROUP BY 1
        ),
        common AS MATERIALIZED (
            SELECT p1.n AS na, p2.n AS nb,
                CAST(count(*) AS BIGINT) AS n_common,
                CAST(sum(1000000 // dw.d) AS BIGINT) AS ra_ppm
            FROM adj p1
            JOIN adj p2 ON p1.w = p2.w AND p1.n < p2.n
            JOIN deg dw ON dw.n = p1.w
            GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT CAST(c.na AS BIGINT) AS node_a,
            CAST(c.nb AS BIGINT) AS node_b,
            c.n_common, c.ra_ppm
        FROM common c
        LEFT JOIN edges e ON e.a = c.na AND e.b = c.nb
        WHERE e.a IS NULL"""

    # Markov transitions: lead() under (ts, event_id) order, integer
    # ppm probabilities — per-state totals from a window over the
    # (from, to) grain.
    sql["events_markov"] = """
        WITH p AS (
            SELECT event_type AS from_type,
                lead(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS to_type
            FROM events
        ),
        c AS (
            SELECT from_type, to_type, count(*) AS n
            FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_type, to_type, CAST(n AS BIGINT) AS n_transitions,
            CAST((1000000 * CAST(n AS HUGEINT))
                 // sum(n) OVER (PARTITION BY from_type)
                 AS BIGINT) AS prob_ppm
        FROM c"""

    # Gaps-and-islands: month_index - row_number island constant,
    # longest run per customer, earliest-start tiebreak.
    sql["orders_streaks"] = """
        WITH m AS (
            SELECT DISTINCT o_custkey AS k,
                CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                     AS BIGINT) AS mi
            FROM orders
        ),
        runs AS (
            SELECT k, count(*) AS len, min(mi) AS strt
            FROM (SELECT k, mi,
                      mi - row_number() OVER (PARTITION BY k
                                              ORDER BY mi) AS isl
                  FROM m)
            GROUP BY k, isl
        ),
        best AS (
            SELECT k, sum(len) OVER (PARTITION BY k) AS n_active,
                len, strt,
                row_number() OVER (PARTITION BY k
                                   ORDER BY len DESC, strt) AS rn
            FROM runs
        )
        SELECT k AS o_custkey,
            CAST(n_active AS BIGINT) AS n_active_months,
            CAST(len AS BIGINT) AS longest_streak,
            CAST(strt // 12 AS BIGINT) AS streak_start_year,
            CAST(strt % 12 + 1 AS BIGINT) AS streak_start_month
        FROM best WHERE rn = 1"""

    # MAD: both medians are the smallest value whose 1-based rank
    # reaches (n+1) div 2 — percentile_disc, group-partitioned.
    sql["orders_mad"] = """
        WITH b AS MATERIALIZED (
            SELECT o_orderpriority AS g,
                CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
        ),
        r1 AS (
            SELECT g, v,
                row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY g) AS n
            FROM b
        ),
        med AS (
            SELECT g, max(n) AS n_rows,
                min(CASE WHEN rn >= (n + 1) // 2 THEN v END)
                    AS median_cents
            FROM r1 GROUP BY g
        ),
        r2 AS (
            SELECT d.g, d.dv,
                row_number() OVER (PARTITION BY d.g ORDER BY d.dv) AS rn,
                count(*) OVER (PARTITION BY d.g) AS n
            FROM (SELECT b.g, abs(b.v - med.median_cents) AS dv
                  FROM b JOIN med ON b.g = med.g) d
        ),
        mad AS (
            SELECT g,
                min(CASE WHEN rn >= (n + 1) // 2 THEN dv END)
                    AS mad_cents
            FROM r2 GROUP BY g
        )
        SELECT med.g AS o_orderpriority,
            CAST(med.n_rows AS BIGINT) AS n_rows,
            CAST(med.median_cents AS BIGINT) AS median_cents,
            CAST(mad.mad_cents AS BIGINT) AS mad_cents
        FROM med JOIN mad ON med.g = mad.g"""

    # Last-touch attribution: last-ignore-nulls over a frame ending
    # 1 row before the conversion under (ts, event_id) order; both
    # carried columns are null on the same rows so they pick the
    # same touch row; 24h gap compared in exact microseconds.
    sql["events_attribution"] = """
        WITH t AS (
            SELECT event_type, ts,
                last_value(CASE WHEN event_type IN
                    ('view', 'click', 'signup') THEN event_type END
                    IGNORE NULLS) OVER w AS lt,
                last_value(CASE WHEN event_type IN
                    ('view', 'click', 'signup') THEN ts END
                    IGNORE NULLS) OVER w AS lts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING)
        )
        SELECT COALESCE(CASE WHEN lts IS NOT NULL
                AND date_diff('microsecond', lts, ts)
                    <= CAST(86400 AS BIGINT) * 1000000
                THEN lt END, '(none)') AS channel,
            CAST(count(*) AS BIGINT) AS n_conversions
        FROM t WHERE event_type = 'purchase'
        GROUP BY 1"""

    sql["events_seqmatch"] = """
        WITH coded AS (
            SELECT user_id, ts, event_id,
                CASE event_type
                    WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                    WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                    WHEN 'error' THEN 'e' END AS c
            FROM events
        ),
        seq AS (
            SELECT user_id,
                string_agg(c, '' ORDER BY ts, event_id) AS s
            FROM coded WHERE c IS NOT NULL GROUP BY user_id
        )
        SELECT user_id,
            CAST(length(s) AS BIGINT) AS seq_len,
            CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT)
                AS n_matches,
            CAST(CASE WHEN regexp_matches(s, 'vc*p')
                 THEN strpos(s, regexp_extract(s, 'vc*p'))
                 ELSE 0 END AS BIGINT) AS first_match_pos
        FROM seq"""

    # RFM: boundaries are exact order statistics — smallest v with
    # #(x <= v) >= ceil(i*n/4) — replayed with a cumulative histogram;
    # bin = 1 + #(boundaries < value), recency reversed (5 - bin).
    def _rfm_bounds(metric):
        return f"""(
            SELECT min(CASE WHEN cum >= (1*nn + 3) // 4 THEN v END) AS b1,
                   min(CASE WHEN cum >= (2*nn + 3) // 4 THEN v END) AS b2,
                   min(CASE WHEN cum >= (3*nn + 3) // 4 THEN v END) AS b3
            FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, nn
                  FROM (SELECT {metric} AS v, count(*) AS cnt
                        FROM m GROUP BY 1), n))"""

    sql["rfm_customers"] = f"""
        WITH m AS MATERIALIZED (
            SELECT o_custkey,
                CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                               DATE '1998-12-31') AS BIGINT)
                    AS recency_days,
                CAST(count(*) AS BIGINT) AS frequency,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS monetary_cents
            FROM orders GROUP BY 1
        ),
        n AS (SELECT count(*) AS nn FROM m),
        rb AS {_rfm_bounds('recency_days')},
        fb AS {_rfm_bounds('frequency')},
        mb AS {_rfm_bounds('monetary_cents')},
        scored AS (
            SELECT m.o_custkey, m.recency_days, m.frequency,
                m.monetary_cents,
                CAST(5 - (1
                    + CASE WHEN m.recency_days > rb.b1 THEN 1 ELSE 0 END
                    + CASE WHEN m.recency_days > rb.b2 THEN 1 ELSE 0 END
                    + CASE WHEN m.recency_days > rb.b3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS r_score,
                CAST(1
                    + CASE WHEN m.frequency > fb.b1 THEN 1 ELSE 0 END
                    + CASE WHEN m.frequency > fb.b2 THEN 1 ELSE 0 END
                    + CASE WHEN m.frequency > fb.b3 THEN 1 ELSE 0 END
                    AS BIGINT) AS f_score,
                CAST(1
                    + CASE WHEN m.monetary_cents > mb.b1 THEN 1 ELSE 0 END
                    + CASE WHEN m.monetary_cents > mb.b2 THEN 1 ELSE 0 END
                    + CASE WHEN m.monetary_cents > mb.b3 THEN 1 ELSE 0 END
                    AS BIGINT) AS m_score
            FROM m, rb, fb, mb
        )
        SELECT *, CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT)
            AS segment
        FROM scored"""

    sql["multiformat_store"] = """
        SELECT r.r_name,
            CAST(count(*) AS BIGINT) AS n_nations,
            CAST(SUM(CAST(n.n_nationkey AS BIGINT)) AS BIGINT)
                AS key_sum
        FROM nation n JOIN region r
            ON n.n_regionkey = r.r_regionkey
        GROUP BY 1"""

    sql["agg_point_cut"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            CAST(month(l_shipdate) AS BIGINT) AS "date.month",
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1, 2"""

    # matroska metadata: track layout closed-form in doc_id
    sql["doc_mkv_meta"] = """
        SELECT doc_id,
            CAST((1 + doc_id % 4) * 100000 AS BIGINT)
                AS timestamp_scale,
            CAST(1 AS BIGINT) AS n_video,
            CAST(1 + doc_id % 2 AS BIGINT) AS n_audio,
            CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
                AS n_subtitle,
            'V_VP9' || repeat(',A_OPUS', CAST(1 + doc_id % 2 AS INT))
                || CASE WHEN doc_id % 3 = 0 THEN ',S_TEXT/UTF8'
                   ELSE '' END AS codec_ids
        FROM documents"""

    # video frame sampling: every 2nd frame kept; per-frame byte sums
    sql["doc_video_frames"] = """
        WITH f AS (
            SELECT doc_id, u.f AS frame_id,
                3 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
            FROM documents,
                UNNEST(range(CAST(2 + doc_id % 3 AS INT))) AS u(f)
            WHERE u.f % 2 = 0)
        SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
            CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            CAST(w * h * 3 AS BIGINT) AS n_samples,
            CAST(list_sum(list_transform(range(CAST(h AS INT)),
                y -> list_sum(list_transform(range(CAST(w AS INT)),
                    x -> list_sum(list_transform([0, 1, 2],
                        c -> (doc_id * 7 + frame_id * 19 + x * 5
                              + y * 11 + c * 3) % 256))))))
                 AS BIGINT) AS sample_sum
        FROM f"""

    # video pipeline: nearest 2x2 resize of every 2nd decoded frame;
    # image pixel ((X*w)//2, (Y*h)//2) is FILE row h-1-(Y*h)//2 of the
    # bottom-up DIB
    sql["doc_video_pipeline"] = """
        WITH f AS (
            SELECT doc_id, u.f AS frame_id,
                3 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
            FROM documents,
                UNNEST(range(CAST(2 + doc_id % 3 AS INT))) AS u(f)
            WHERE u.f % 2 = 0)
        SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
            CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            CAST(2 AS BIGINT) AS out_width,
            CAST(2 AS BIGINT) AS out_height,
            CAST(12 AS BIGINT) AS n_samples,
            CAST(list_sum(list_transform([0, 1],
                y -> list_sum(list_transform([0, 1],
                    x -> list_sum(list_transform([0, 1, 2],
                        c -> (doc_id * 7 + frame_id * 19
                              + ((x * w) // 2) * 5
                              + (h - 1 - (y * h) // 2) * 11
                              + c * 3) % 256))))))
                 AS BIGINT) AS sample_sum
        FROM f"""

    # JPEG roundtrip: flat (DC-only) images reconstruct exactly
    sql["doc_jpeg_roundtrip"] = """
        SELECT doc_id,
            CAST(8 + (doc_id % 3) * 8 AS BIGINT) AS width,
            CAST(8 + (doc_id % 2) * 8 AS BIGINT) AS height,
            CAST((8 + (doc_id % 3) * 8) * (8 + (doc_id % 2) * 8)
                 AS BIGINT) AS n_samples,
            CAST((doc_id * 37) % 256
                 * (8 + (doc_id % 3) * 8) * (8 + (doc_id % 2) * 8)
                 AS BIGINT) AS sample_sum
        FROM documents"""

    # chunking: same step/limit arithmetic, md5 per chunk
    sql["doc_chunks"] = """
        SELECT doc_id, k AS chunk_id,
            CAST(length(substr(text, CAST(k * 224 + 1 AS INT), 256))
                 AS BIGINT) AS chunk_len,
            md5(substr(text, CAST(k * 224 + 1 AS INT), 256))
                AS chunk_hash
        FROM documents,
            UNNEST(range(CAST(greatest(1,
                (greatest(length(text) - 32, 0) + 223) // 224)
                AS BIGINT))) AS u(k)"""

    # deterministic split: the same md5-derived hash mod 1000
    sql["doc_split"] = """
        SELECT lang,
            CASE WHEN CAST(concat('0x', substr(md5(concat('split:',
                    CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
                    % 1000 < 100
                 THEN 'val' ELSE 'train' END AS split,
            COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1, 2"""

    # exact substring dedup: the same 8-token spans + portable hash
    _span_cte = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS t FROM documents),
        spans AS (
            SELECT doc_id,
                array_to_string(
                    t[CAST(u.i + 1 AS INT) : CAST(u.i + 8 AS INT)],
                    ' ') AS span
            FROM toks,
                UNNEST(range(CAST(greatest(len(t) - 7, 0) AS BIGINT)))
                    AS u(i)),
        hashed AS (
            SELECT doc_id,
                {_H64.format(x='span')} AS span_hash
            FROM spans)
    """
    sql["doc_substring_dup"] = _span_cte + """
        SELECT span_hash,
            COUNT(DISTINCT doc_id) AS n_docs,
            COUNT(*) AS n_occurrences,
            MIN(doc_id) AS canonical_id
        FROM hashed GROUP BY 1
        HAVING COUNT(DISTINCT doc_id) >= 2"""

    sql["doc_span_docs"] = _span_cte + """
        , dup AS (
            SELECT span_hash FROM hashed
            GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2)
        SELECT doc_id,
            CAST(SUM(CASE WHEN span_hash IN (SELECT span_hash FROM dup)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
            COUNT(*) AS n_spans
        FROM hashed GROUP BY 1"""

    # decontamination: distinct grams per doc vs the benchmark slice;
    # threshold compare in exact integer arithmetic (0.2 == 2000 bp)
    sql["doc_decontam"] = _span_cte + """
        , distinct_grams AS (
            SELECT DISTINCT doc_id, span_hash FROM hashed),
        bench AS (
            SELECT DISTINCT span_hash FROM distinct_grams
            WHERE doc_id % 25 = 0)
        SELECT doc_id,
            COUNT(*) AS n_grams,
            CAST(SUM(CASE WHEN span_hash IN (SELECT span_hash FROM bench)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
            CAST(CASE WHEN SUM(CASE WHEN span_hash IN
                        (SELECT span_hash FROM bench) THEN 1 ELSE 0 END)
                      * 10000 >= 2000 * COUNT(*)
                 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
        FROM distinct_grams GROUP BY 1"""

    # sequence packing: exclusive prefix sum in doc_id order, integer
    # bin arithmetic (identical to the two-phase Spark result)
    sql["doc_pack"] = f"""
        WITH toks AS (
            SELECT doc_id, len({_TOKENS}) AS n FROM documents),
        placed AS (
            SELECT doc_id, n,
                CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS s
            FROM toks),
        bins AS (
            SELECT doc_id, n, s, u.b AS bin_id
            FROM placed,
                UNNEST(range(s // 512, (s + n - 1) // 512 + 1)) AS u(b)
            WHERE n > 0)
        SELECT CAST(bin_id AS BIGINT) AS bin_id, doc_id,
            CAST(greatest(s, bin_id * 512) - bin_id * 512 AS BIGINT)
                AS offset_in_bin,
            CAST(least(s + n, (bin_id + 1) * 512)
                 - greatest(s, bin_id * 512) AS BIGINT) AS tokens_in_bin,
            CAST(n AS BIGINT) AS n_tokens
        FROM bins"""

    # RLE8 BMPs: sums recomputed from the closed form (row-order
    # invariant; absolute-mode literals + runs)
    sql["doc_bmp_rle"] = """
        SELECT doc_id,
            CAST(4 + doc_id % 3 AS BIGINT) AS width,
            CAST(2 + doc_id % 2 AS BIGINT) AS height,
            CAST((4 + doc_id % 3) * (2 + doc_id % 2) AS BIGINT)
                AS n_samples,
            CAST((doc_id % 200) + ((doc_id + 1) % 200)
                 + ((doc_id + 2) % 200)
                 + (1 + doc_id % 3) * ((doc_id + 3) % 200)
                 + list_sum(list_transform(
                       range(1, CAST(2 + doc_id % 2 AS INT)),
                       y -> (4 + doc_id % 3)
                            * ((doc_id + y * 13) % 200)))
                 AS BIGINT) AS sample_sum
        FROM documents"""

    # IMA ADPCM: inputs keyed by doc_id % 8; the 8 reference-decoded
    # sums are inlined as literals (independent spec implementation)
    _adpcm_rows = []
    for _r in range(8):
        _data = bytes((_j * 37 + _r * 11) % 256 for _j in range(8))
        _samples = _ima_decode_reference(_data, _r * 100 - 300, _r * 3)
        _adpcm_rows.append(f"({_r}, {sum(_samples)})")
    sql["doc_adpcm_decode"] = f"""
        SELECT d.doc_id, CAST(1 AS BIGINT) AS n_channels,
            CAST(8000 AS BIGINT) AS sample_rate,
            CAST(17 AS BIGINT) AS n_samples,
            CAST(v.s AS BIGINT) AS sample_sum
        FROM documents d
        JOIN (VALUES {", ".join(_adpcm_rows)}) v(r, s)
            ON d.doc_id % 8 = v.r"""

    # progressive JPEG roundtrip: per-block-flat -> exact closed form
    sql["doc_jpeg_progressive"] = """
        SELECT doc_id,
            CAST((2 + doc_id % 2) * 8 AS BIGINT) AS width,
            CAST((1 + doc_id % 3) * 8 AS BIGINT) AS height,
            CAST((2 + doc_id % 2) * (1 + doc_id % 3) * 64 AS BIGINT)
                AS n_samples,
            CAST(64 * list_sum(list_transform(
                     range(CAST(2 + doc_id % 2 AS INT)),
                     bx -> list_sum(list_transform(
                         range(CAST(1 + doc_id % 3 AS INT)),
                         by -> (doc_id * 31 + bx * 17 + by * 29)
                               % 256))))
                 AS BIGINT) AS sample_sum
        FROM documents"""

    # curation cube: same bucket CASE + token count, plain GROUP BY
    sql["doc_quality_cube"] = f"""
        SELECT lang AS "lang.lang",
            CASE WHEN n_chars < 250 THEN 'short'
                 WHEN n_chars < 350 THEN 'medium' ELSE 'long' END
                AS "len_bucket.len_bucket",
            COUNT(*) AS doc_count,
            CAST(SUM(n_chars) AS BIGINT) AS chars_sum,
            CAST(SUM(len({_TOKENS})) AS BIGINT) AS tokens_sum
        FROM documents
        WHERE source IN ('src1', 'src2', 'src3', 'src4', 'src5')
        GROUP BY 1, 2"""

    # zlib shards inflated for real; byte-exact closed form
    sql["doc_inflate"] = """
        SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
            md5(text) AS payload_md5
        FROM documents"""

    # JSON-lines round-trip: field values closed-form from the source
    sql["doc_jsonl"] = """
        SELECT doc_id, CAST(0 AS BIGINT) AS line_no,
            doc_id AS rec_id, lang AS rec_lang, md5(text) AS text_md5
        FROM documents
        UNION ALL
        SELECT doc_id, CAST(1 AS BIGINT), doc_id + 1000000, 'und',
            md5(substr(text, 1, 100))
        FROM documents"""

    # streaming quality rollup == batch quality rollup (bounded replay)
    sql["docs_stream_quality"] = f"""
        WITH base AS ({_text_stats_sql()}),
        d AS ({_TEXT_STATS_DERIVED})
        SELECT doc.lang,
            CAST(CASE WHEN d.quality_score >= 0.5 THEN 1 ELSE 0 END
                 AS BIGINT) AS passed,
            COUNT(*) AS n_docs,
            CAST(SUM(doc.n_chars) AS BIGINT) AS total_chars
        FROM d JOIN documents doc USING (doc_id)
        GROUP BY 1, 2"""

    # mixture sampling: identical per-stratum hash predicate
    sql["doc_mixture"] = """
        SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE CAST(concat('0x', substr(md5(concat('mixture:',
                CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 1000
              < CASE lang WHEN 'en' THEN 800 WHEN 'de' THEN 500
                          WHEN 'fr' THEN 300 ELSE 100 END
        GROUP BY 1"""

    # incremental dedup: same normalized-content anti-join
    sql["doc_incremental_dedup"] = r"""
        SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents f
        WHERE f.doc_id % 4 <> 0
          AND md5(regexp_replace(lower(trim(f.text)), '\s+', ' ', 'g'))
              NOT IN (
                SELECT md5(regexp_replace(lower(trim(r.text)),
                                          '\s+', ' ', 'g'))
                FROM documents r WHERE r.doc_id % 4 = 0)
        GROUP BY 1"""

    # hash-Bernoulli sample: identical portable-hash predicate
    sql["doc_sample"] = """
        SELECT lang, COUNT(*) AS n_docs,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE CAST(concat('0x', substr(md5(concat('sample:',
                CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT)
              % 1000 < 250
        GROUP BY 1"""

    # stratified sample: identical rank-by-portable-hash selection

    # C4-style line dedup: same 20-token lines, same integral
    # first-occurrence window, reassembly via ordered string_agg
    sql["doc_line_dedup"] = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS t FROM documents),
        nl AS (
            SELECT doc_id, t,
                greatest(1, (len(t) + 19) // 20) AS n
            FROM toks),
        lines AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS line_idx,
                array_to_string(
                    list_slice(t, CAST(u.i * 20 + 1 AS BIGINT),
                               CAST(u.i * 20 + 20 AS BIGINT)),
                    ' ') AS line_text
            FROM nl, UNNEST(range(CAST(n AS BIGINT))) AS u(i)),
        with_doc AS (
            SELECT doc_id, line_idx, line_text,
                MIN(doc_id) OVER (PARTITION BY line_text) AS min_doc
            FROM lines),
        kept AS (
            SELECT doc_id, line_idx, line_text,
                doc_id = min_doc AND line_idx = MIN(
                    CASE WHEN doc_id = min_doc THEN line_idx END)
                    OVER (PARTITION BY line_text) AS keep
            FROM with_doc)
        SELECT doc_id,
            CAST(COUNT(*) AS BIGINT) AS n_lines,
            CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
                AS n_lines_kept,
            COALESCE(string_agg(line_text, ' ' ORDER BY line_idx)
                     FILTER (WHERE keep), '') AS cleaned_text
        FROM kept GROUP BY doc_id"""

    # deterministic shuffle: same md5 hash, same shard mod, same rank
    sql["doc_shuffle_shards"] = """
        WITH h AS (
            SELECT doc_id,
                CAST(concat('0x', substr(md5(concat('shuffle:',
                    CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                    AS hv
            FROM documents)
        SELECT doc_id, CAST(hv % 8 AS BIGINT) AS shard,
            CAST(row_number() OVER (PARTITION BY hv % 8
                ORDER BY hv ASC, doc_id ASC) AS BIGINT) AS position
        FROM h"""


    # TF-IDF: same tf / df / smoothed-idf doubles, same rank window
    sql["doc_tfidf"] = f"""
        WITH toks AS (
            SELECT doc_id, unnest({_TOKENS}) AS term FROM documents),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term),
        docfreq AS (
            SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf,
            round(CAST(tf AS DOUBLE)
                  * ln((n.n_docs + 1) / CAST(df + 1 AS DOUBLE)), 6)
                AS score,
            CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT t.doc_id, t.term, t.tf, d.df,
                row_number() OVER (PARTITION BY t.doc_id
                    ORDER BY CAST(t.tf AS DOUBLE)
                        * ln(((SELECT n_docs FROM n) + 1)
                             / CAST(d.df + 1 AS DOUBLE)) DESC,
                        t.term ASC) AS rank
            FROM tf t JOIN docfreq d USING (term)
        ) ranked, n
        WHERE rank <= 5"""


    # feature hashing: same two md5 hashes, same fold, same rounding
    sql["doc_embed"] = f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS t FROM documents),
        contribs AS (
            SELECT doc_id,
                list_transform(t, x -> struct_pack(
                    c := CAST(concat('0x', substr(md5(concat('feat:',
                        x)), 1, 15)) AS BIGINT) % 16,
                    s := CASE WHEN CAST(concat('0x',
                        substr(md5(concat('feat#:', x)), 1, 8))
                        AS BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END)) AS cs
            FROM toks),
        rawv AS (
            SELECT doc_id,
                list_transform(range(16), d ->
                    list_sum(list_transform(cs, e ->
                        CASE WHEN e.c = d THEN e.s ELSE 0.0 END)))
                    AS raw
            FROM contribs),
        unitv AS (
            SELECT doc_id,
                sqrt(list_sum(list_transform(raw, x -> x * x)))
                    AS nrm,
                raw
            FROM rawv)
        SELECT doc_id,
            round(CASE WHEN nrm > 0
                  THEN raw[CAST(doc_id % 16 AS INT) + 1] / nrm
                  ELSE raw[CAST(doc_id % 16 AS INT) + 1] END, 6)
                AS probe_component,
            CAST(len(list_filter(
                CASE WHEN nrm > 0
                     THEN list_transform(raw, x -> x / nrm)
                     ELSE raw END,
                x -> x != 0.0)) AS BIGINT) AS n_nonzero
        FROM unitv"""

    sql["doc_domain_cap"] = """
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        QUALIFY row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id ASC) <= 10"""

    sql["doc_stratified"] = """
        SELECT doc_id, lang FROM documents
        QUALIFY row_number() OVER (PARTITION BY lang
            ORDER BY CAST(concat('0x', substr(md5(concat('strata:',
                CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) ASC,
                doc_id ASC) <= 25"""

    # export->ingest round trip: closed-form member expectations
    sql["doc_webdataset_export"] = """
        SELECT doc_id // 50 AS shard_id,
            CAST(doc_id AS VARCHAR) || '.cls' AS name,
            CAST(strlen(lang) AS BIGINT) AS size,
            md5(lang) AS payload_md5
        FROM documents
        UNION ALL
        SELECT doc_id // 50,
            CAST(doc_id AS VARCHAR) || '.txt',
            CAST(strlen(text) AS BIGINT), md5(text)
        FROM documents"""

    # tar shards parsed for real; closed-form member expectations
    sql["doc_tar_shards"] = """
        SELECT doc_id, CAST(0 AS BIGINT) AS member_idx,
            'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS name,
            CAST(strlen(text) AS BIGINT) AS size,
            md5(text) AS payload_md5
        FROM documents
        UNION ALL
        SELECT doc_id, CAST(1 AS BIGINT),
            'doc_' || CAST(doc_id AS VARCHAR) || '.cls',
            CAST(strlen(lang) AS BIGINT), md5(lang)
        FROM documents"""

    # composed web pipeline: stats of the closed-form expected text
    sql["doc_warc_pipeline"] = r"""
        WITH t AS (
            SELECT doc_id,
                trim(regexp_replace(
                    'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || source
                        || ' ' || text,
                    '\s+', ' ', 'g')) AS expected
            FROM documents)
        SELECT doc_id,
            CAST(length(expected) AS BIGINT) AS text_len,
            CAST(len(CASE WHEN trim(expected) = '' THEN []
                ELSE string_split_regex(trim(expected), '\s+') END)
                AS BIGINT) AS n_tokens,
            md5(expected) AS text_md5
        FROM t"""

    # WARC shards parsed for real; closed-form record expectations
    sql["doc_warc_extract"] = """
        SELECT doc_id, CAST(2 AS BIGINT) AS n_records,
            'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
                AS target_uri,
            CAST(200 AS BIGINT) AS http_status,
            'text/plain; charset=utf-8' AS content_type,
            CAST(strlen(text) AS BIGINT) AS body_len,
            md5(text) AS body_md5
        FROM documents"""

    # HTML strip inverts the in-plan escape: closed-form expected text
    sql["doc_html_text"] = r"""
        WITH t AS (
            SELECT doc_id,
                trim(regexp_replace(
                    'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || source
                        || ' ' || text || ' next',
                    '\s+', ' ', 'g')) AS expected
            FROM documents)
        SELECT doc_id,
            CAST(length(expected) AS BIGINT) AS text_len,
            md5(expected) AS text_md5,
            CAST(1 AS BIGINT) AS n_links,
            'https://example.com/doc/' || CAST(doc_id + 1 AS VARCHAR)
                AS first_link
        FROM t"""

    # XLSX round-trip: values recovered from the parsed workbook grid
    sql["xlsx_roundtrip"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            COUNT(*) AS fact_count,
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum
        FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1"""

    # namespaced cube == root cube on the same store
    sql["namespace_agg"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["agg_set_cut"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY 1"""

    sql["agg_invert_cut"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            l_linestatus AS "linestatus.linestatus",
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem WHERE NOT (l_returnflag IN ('A', 'R'))
        GROUP BY 1, 2"""

    sql["agg_range_cut"] = """
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            CAST(month(l_shipdate) AS BIGINT) AS "date.month",
            COUNT(*) AS fact_count
        FROM lineitem
        WHERE (year(l_shipdate) > 1995 OR
               (year(l_shipdate) = 1995 AND month(l_shipdate) >= 3))
          AND (year(l_shipdate) < 1996 OR
               (year(l_shipdate) = 1996 AND month(l_shipdate) <= 8))
        GROUP BY 1, 2"""

    sql["agg_half_open_range"] = """
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            COUNT(*) AS fact_count
        FROM lineitem
        WHERE (year(l_shipdate) > 2000 OR
               (year(l_shipdate) = 2000 AND month(l_shipdate) >= 6))
        GROUP BY 1"""

    sql["agg_snowflake"] = f"""
        SELECT r.r_regionkey AS "customer_geo.region_key",
            r.r_name AS "customer_geo.region_name",
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2"""

    sql["agg_roleplay"] = """
        SELECT cn.n_nationkey AS "customer_geo.nation_key",
            cn.n_name AS "customer_geo.nation_name",
            sr.r_regionkey AS "supplier_geo.region_key",
            sr.r_name AS "supplier_geo.region_name",
            COUNT(*) AS fact_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN region sr ON sn.n_regionkey = sr.r_regionkey
        GROUP BY 1, 2, 3, 4"""

    sql["agg_expression"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            CAST(SUM({_DEC_PRICE} * (1 - {_DEC_DISC})) AS DOUBLE)
                AS discounted_price_sum,
            CAST(SUM({_DEC_PRICE} * (1 - {_DEC_DISC}) * (1 + {_DEC_TAX}))
                AS DOUBLE) AS charge_sum
        FROM lineitem GROUP BY 1"""

    sql["agg_order_page"] = f"""
        SELECT * FROM (
            SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
                CAST(month(l_shipdate) AS BIGINT) AS "date.month",
                CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum
            FROM lineitem GROUP BY 1, 2
        ) ORDER BY price_sum DESC, "date.year", "date.month"
        LIMIT 5 OFFSET 5"""

    sql["agg_minmax"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            CAST(MIN({_DEC_PRICE}) AS DOUBLE) AS price_min,
            CAST(MAX({_DEC_PRICE}) AS DOUBLE) AS price_max,
            COUNT(DISTINCT l_partkey) AS part_count_distinct
        FROM lineitem GROUP BY 1"""

    sql["agg_avg_var"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            CAST(SUM({_DEC_QTY}) AS DOUBLE) / COUNT(l_quantity)
                AS quantity_avg,
            (CAST(SUM({_DEC_QTY} * {_DEC_QTY}) AS DOUBLE)
             - CAST(SUM({_DEC_QTY}) AS DOUBLE)
               * CAST(SUM({_DEC_QTY}) AS DOUBLE)
               / CAST(COUNT(l_quantity) AS DOUBLE))
            / (CAST(COUNT(l_quantity) AS DOUBLE) - 1.0) AS quantity_var,
            sqrt((CAST(SUM({_DEC_QTY} * {_DEC_QTY}) AS DOUBLE)
             - CAST(SUM({_DEC_QTY}) AS DOUBLE)
               * CAST(SUM({_DEC_QTY}) AS DOUBLE)
               / CAST(COUNT(l_quantity) AS DOUBLE))
            / (CAST(COUNT(l_quantity) AS DOUBLE) - 1.0)) AS quantity_std
        FROM lineitem GROUP BY 1"""

    sql["agg_split"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            year(l_shipdate) = 1995 AS __within_split__,
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1, 2"""

    sql["agg_relative_time"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            CAST(month(l_shipdate) AS BIGINT) AS "date.month",
            CAST(day(l_shipdate) AS BIGINT) AS "date.day",
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem
        WHERE year(l_shipdate) = 1996 AND month(l_shipdate) = 5
        GROUP BY 1, 2, 3"""

    sql["topk_customers"] = f"""
        SELECT * FROM (
            SELECT r.r_regionkey AS "customer_geo.region_key",
                r.r_name AS "customer_geo.region_name",
                n.n_nationkey AS "customer_geo.nation_key",
                n.n_name AS "customer_geo.nation_name",
                c.c_custkey AS "customer_geo.customer_key",
                c.c_name AS "customer_geo.customer_name",
                c.c_mktsegment AS "customer_geo.mktsegment",
                CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2, 3, 4, 5, 6, 7
        ) ORDER BY price_sum DESC,
            "customer_geo.region_key", "customer_geo.nation_key",
            "customer_geo.customer_key"
        LIMIT 5"""

    sql["members"] = """
        SELECT DISTINCT r.r_regionkey AS "customer_geo.region_key",
            r.r_name AS "customer_geo.region_name",
            n.n_nationkey AS "customer_geo.nation_key",
            n.n_name AS "customer_geo.nation_name"
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_regionkey = 2"""

    sql["facts_page"] = f"""
        SELECT l_orderkey AS fact_key,
            CAST(l_linenumber AS BIGINT) AS linenumber,
            CAST({_DEC_QTY} AS DOUBLE) AS quantity,
            CAST({_DEC_PRICE} AS DOUBLE) AS extendedprice,
            l_returnflag AS "returnflag.returnflag"
        FROM lineitem
        WHERE year(l_shipdate) = 1995 AND month(l_shipdate) = 1
        ORDER BY 1, 2 LIMIT 50"""

    sql["fact_list"] = f"""
        SELECT l_orderkey AS fact_key,
            CAST(l_linenumber AS BIGINT) AS linenumber,
            CAST({_DEC_QTY} AS DOUBLE) AS quantity,
            l_returnflag AS "returnflag.returnflag"
        FROM lineitem
        WHERE l_orderkey IN (1, 2, 3, 5, 8, 13, 21, 34)"""

    ym_base = f"""
            SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
                CAST(month(l_shipdate) AS BIGINT) AS "date.month",
                CAST(SUM({_DEC_PRICE}) AS DECIMAL(18,2)) AS dec_price_sum
            FROM lineitem GROUP BY 1, 2"""
    ym_win = 'ORDER BY "date.year", "date.month" ROWS BETWEEN 2 PRECEDING AND CURRENT ROW'

    sql["calc_pctchange"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            CASE WHEN lag(dec_price_sum) OVER (
                     ORDER BY "date.year", "date.month") IS NOT NULL
                  AND lag(dec_price_sum) OVER (
                     ORDER BY "date.year", "date.month") <> 0
            THEN round((CAST(dec_price_sum AS DOUBLE)
                        - CAST(lag(dec_price_sum) OVER (
                              ORDER BY "date.year", "date.month")
                          AS DOUBLE))
                       / CAST(lag(dec_price_sum) OVER (
                             ORDER BY "date.year", "date.month")
                         AS DOUBLE), 4) END AS price_pct_change
        FROM ({ym_base})"""

    sql["calc_rsum"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            CAST(SUM(dec_price_sum) OVER (
                ORDER BY "date.year", "date.month"
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS price_rsum
        FROM ({ym_base})"""

    sql["calc_ptot"] = f"""
        WITH rym AS (
            SELECT r.r_regionkey AS "customer_geo.region_key",
                r.r_name AS "customer_geo.region_name",
                CAST(year(l.l_shipdate) AS BIGINT) AS "date.year",
                CAST(month(l.l_shipdate) AS BIGINT) AS "date.month",
                CAST(SUM({_DEC_PRICE}) AS DECIMAL(18,2))
                    AS dec_price_sum
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2, 3, 4
        )
        SELECT "customer_geo.region_key", "customer_geo.region_name",
            "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            round(CAST(dec_price_sum AS DOUBLE)
                  / CAST(SUM(dec_price_sum) OVER (
                        PARTITION BY "customer_geo.region_key")
                    AS DOUBLE), 4) AS price_ptot
        FROM rym"""

    sql["calc_sma"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            round(CAST(SUM(dec_price_sum) OVER w AS DOUBLE)
                  / COUNT(*) OVER w, 2) AS price_sma
        FROM ({ym_base}) WINDOW w AS ({ym_win})"""

    sql["calc_sms"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            CAST(SUM(dec_price_sum) OVER w AS DOUBLE) AS price_sms
        FROM ({ym_base}) WINDOW w AS ({ym_win})"""

    sql["calc_wma"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            round(
                CAST(list_sum(list_transform(
                    list_zip(vals, generate_series(1, len(vals))),
                    p -> p[1] * p[2])) AS DOUBLE)
                / (CAST(len(vals) * (len(vals) + 1) AS DOUBLE) / 2.0),
                4) AS price_wma
        FROM (
            SELECT "date.year", "date.month", dec_price_sum,
                list(CAST(dec_price_sum AS DOUBLE)) OVER w AS vals
            FROM ({ym_base}) WINDOW w AS ({ym_win})
        )"""

    # EWMA alpha=1/2: weight of vals[i] (oldest->newest, 1-based) is
    # 2^(i-1), normalizer 2^n - 1 — powers of two are exact doubles,
    # so this replays Spark's _ewma_column bit-for-bit.
    sql["calc_ewma"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            round(
                CAST(list_sum(list_transform(
                    list_zip(vals, generate_series(1, len(vals))),
                    p -> p[1] * pow(2.0, p[2] - 1))) AS DOUBLE)
                / (pow(2.0, len(vals)) - 1.0),
                4) AS price_ewma
        FROM (
            SELECT "date.year", "date.month", dec_price_sum,
                list(CAST(dec_price_sum AS DOUBLE)) OVER w AS vals
            FROM ({ym_base}) WINDOW w AS ({ym_win})
        )"""

    # CAST(decimal AS VARCHAR) then to DOUBLE: DuckDB's direct
    # decimal->double cast double-rounds (int128 to double, then divide
    # by 10^scale); the string parse is correctly rounded, matching
    # Spark's BigDecimal.doubleValue exactly.
    var_expr = """(CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"""
    calc_var_base = f"""
        SELECT "date.year", "date.month", dec_price_sum,
            SUM(dec_price_sum) OVER w AS s,
            SUM(CAST(dec_price_sum AS DECIMAL(19,2))
                * CAST(dec_price_sum AS DECIMAL(19,2))) OVER w AS s2,
            COUNT(*) OVER w AS n
        FROM ({ym_base}) WINDOW w AS ({ym_win})"""

    # Exact replica of Spark's F.round(double, 2) — BigDecimal on the
    # shortest decimal string, HALF_UP, parsed back.  DuckDB's native
    # round(double, 2) computes x*100 first, whose float error misrounds
    # values of this magnitude (~1e12) near .xx5 boundaries.
    smvar_raw = f"CASE WHEN n < 2 THEN 0.0 ELSE {var_expr} END"
    sql["calc_smvar"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            CAST(CAST(CAST(CAST(({smvar_raw}) AS VARCHAR)
                 AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS price_smvar
        FROM ({calc_var_base})"""

    sql["calc_smstd"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            round(CASE WHEN n < 2 THEN 0.0
                  ELSE sqrt({var_expr}) END, 2) AS price_smstd
        FROM ({calc_var_base})"""

    sql["calc_zscore"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            CASE WHEN n >= 2 AND {var_expr} > 0
                 THEN round((CAST(dec_price_sum AS DOUBLE)
                      - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                      / sqrt({var_expr}), 4)
            END AS price_zscore
        FROM ({calc_var_base})"""

    sql["calc_smrsd"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            CASE WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0
                 THEN round((CASE WHEN n < 2 THEN 0.0
                             ELSE sqrt({var_expr}) END)
                      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 4)
                 ELSE 0.0 END AS price_smrsd
        FROM ({calc_var_base})"""

    # deque semantics over a NULLABLE series: the frame is the last 3
    # NON-NULL values (reaching back past NULL months).  Replayed by
    # windowing the NON-NULL subseries (ROWS 2 PRECEDING) and joining
    # each row back by its running non-null count `rk` — a NULL row
    # shares rk with the latest non-null row, so it inherits that
    # row's deque; rk = 0 rows (before any value) get NULL.
    pe_var = """(CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
            - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
            / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"""
    pe_var_case = f"CASE WHEN n < 2 THEN 0.0 ELSE {pe_var} END"
    sql["calc_nulls"] = f"""
        WITH base AS (
            SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
                CAST(month(l_shipdate) AS BIGINT) AS "date.month",
                MIN(CASE WHEN month(l_shipdate) % 2 = 0
                    THEN {_DEC_PRICE} END) AS m
            FROM lineitem GROUP BY 1, 2),
        nn AS (
            SELECT *, COUNT(m) OVER (
                ORDER BY "date.year", "date.month"
                ROWS UNBOUNDED PRECEDING) AS rk
            FROM base),
        sub AS (
            SELECT rk, m AS dm,
                SUM(m) OVER v AS s,
                SUM(CAST(m AS DECIMAL(19,2))
                    * CAST(m AS DECIMAL(19,2))) OVER v AS s2,
                COUNT(*) OVER v AS n,
                list(CAST(m AS DOUBLE)) OVER v AS vals
            FROM nn WHERE m IS NOT NULL
            WINDOW v AS (ORDER BY rk
                         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        SELECT "date.year", "date.month",
            CAST(m AS DOUBLE) AS price_even_min,
            round(CAST(s AS DOUBLE) / n, 2) AS pe_sma,
            round(
                CAST(list_sum(list_transform(
                    list_zip(vals, generate_series(1, len(vals))),
                    p -> p[1] * p[2])) AS DOUBLE)
                / (CAST(len(vals) * (len(vals) + 1) AS DOUBLE) / 2.0),
                4) AS pe_wma,
            CAST(s AS DOUBLE) AS pe_sms,
            round(CASE WHEN n < 2 THEN 0.0
                  ELSE sqrt({pe_var}) END, 2) AS pe_smstd,
            CAST(CAST(CAST(CAST(({pe_var_case}) AS VARCHAR)
                 AS DECIMAL(38,2)) AS VARCHAR) AS DOUBLE) AS pe_smvar,
            CASE WHEN CAST(s AS DOUBLE) / CAST(n AS DOUBLE) > 0
                 THEN round(sqrt({pe_var_case})
                      / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 4)
                 WHEN n IS NOT NULL THEN 0.0 END AS pe_smrsd
        FROM nn LEFT JOIN sub USING (rk)"""

    sql["rollup_ym"] = f"""
        SELECT CAST(GROUPING(year) * 2 + GROUPING(month) AS BIGINT)
                AS grouping_id,
            year, month,
            CAST(SUM(dec_qty) AS DOUBLE) AS quantity_sum
        FROM (
            SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
                CAST(month(l_shipdate) AS BIGINT) AS month,
                SUM({_DEC_QTY}) AS dec_qty
            FROM lineitem GROUP BY 1, 2
        ) GROUP BY ROLLUP (year, month)"""

    sql["cube_flags"] = """
        SELECT CAST(GROUPING(returnflag) * 2 + GROUPING(linestatus)
                AS BIGINT) AS grouping_id,
            returnflag, linestatus,
            COUNT(*) AS fact_count
        FROM (
            SELECT l_returnflag AS returnflag, l_linestatus AS linestatus
            FROM lineitem
        ) GROUP BY CUBE (returnflag, linestatus)"""

    sql["preagg_year"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["preagg_rollup_rewrite"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            CAST(SUM({_DEC_QTY}) AS DOUBLE) / COUNT(l_quantity)
                AS quantity_avg,
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    # exact decimal sums VARCHAR-routed to double (DuckDB's direct
    # decimal->double cast can differ from Spark's in the last ulp for
    # wide decimals; the decimal STRING parses to the identical double)
    _VN = "CAST(COUNT(l_extendedprice) AS DOUBLE)"
    _VS1 = f"CAST(CAST(SUM({_DEC_PRICE}) AS VARCHAR) AS DOUBLE)"
    _VS2 = (f"CAST(CAST(SUM({_DEC_PRICE} * {_DEC_PRICE})"
            " AS VARCHAR) AS DOUBLE)")
    _VVAR = f"({_VS2} - {_VS1} * {_VS1} / {_VN}) / ({_VN} - 1.0)"
    sql["preagg_distinct_rewrite"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            COUNT(DISTINCT l_partkey) AS part_count_distinct,
            CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["preagg_var_rewrite"] = f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS "date.year",
            {_VVAR} AS price_variance,
            sqrt({_VVAR}) AS price_stddev,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    # merge-equivalence makes the oracle simple: max-merging the
    # month-grain registers to year grain IS sketching the raw rows at
    # year grain — rebuild registers+estimate directly at year grain
    # (same integer arithmetic as the lineitem_hll oracle)
    sql["preagg_hll_rollup"] = """
        WITH h AS MATERIALIZED (
            SELECT CAST(year(l_shipdate) AS BIGINT) AS year,
                CAST(concat('0x', substr(md5(concat('hll:',
                    CAST(l_partkey AS VARCHAR))), 1, 15)) AS BIGINT)
                    AS h
            FROM lineitem
        ),
        ranks AS (
            SELECT year, CAST(h % 256 AS INT) AS bucket,
                CASE WHEN (h // 256) % 1099511627776 = 0 THEN 41
                     ELSE 41 - length(bin(
                        (h // 256) % 1099511627776)) END AS r
            FROM h
        ),
        regs AS MATERIALIZED (
            SELECT year, bucket, MAX(r) AS register
            FROM ranks GROUP BY 1, 2
        ),
        spine AS (
            SELECT y.year, b.bucket
            FROM (SELECT DISTINCT year FROM regs) y
            CROSS JOIN (SELECT unnest(generate_series(0, 255))
                        AS bucket) b
        ),
        sums AS (
            SELECT s.year,
                CAST(SUM(CAST(power(2.0,
                    41 - COALESCE(r.register, 0)) AS BIGINT))
                    AS BIGINT) AS s
            FROM spine s LEFT JOIN regs r
                ON s.year = r.year AND s.bucket = r.bucket
            GROUP BY 1
        )
        SELECT year,
            CAST((7183 * (144115188075855872 // s)) // 10000
                 AS BIGINT) AS hll_est
        FROM sums"""

    sql["grouping_sets"] = f"""
        SELECT returnflag, linestatus,
            CAST(SUM(dec_qty) AS DOUBLE) AS quantity_sum
        FROM (
            SELECT l_returnflag AS returnflag,
                l_linestatus AS linestatus,
                SUM({_DEC_QTY}) AS dec_qty
            FROM lineitem GROUP BY 1, 2
        ) GROUP BY GROUPING SETS ((returnflag), (linestatus))"""

    sql["events_sliding"] = """
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR * h.o
                AS window_start,
            event_type,
            COUNT(*) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
        FROM events, (SELECT unnest([0, 1]) AS o) h
        GROUP BY 1, 2"""

    sql["doc_common_ngrams"] = f"""
        SELECT shingle, COUNT(*) AS doc_freq
        FROM (
            SELECT doc_id,
                unnest(list_distinct(list_transform(
                    generate_series(1, greatest(length({_NORM}) - 4, 1)),
                    i -> substr({_NORM}, i, 5)))) AS shingle
            FROM documents
        )
        GROUP BY 1 ORDER BY doc_freq DESC, shingle ASC LIMIT 20"""

    sql["doc_quality_filter"] = f"""
        WITH base AS ({_text_stats_sql()}),
        derived AS ({_TEXT_STATS_DERIVED})
        SELECT b.doc_id, b.lang, d.n_tokens, d.quality_score
        FROM base b JOIN derived d ON b.doc_id = d.doc_id
        WHERE d.quality_score >= 0.5"""

    sql["crosstab"] = """
        SELECT l_returnflag AS returnflag,
            COUNT(*) FILTER (WHERE l_linestatus = 'F') AS "F",
            COUNT(*) FILTER (WHERE l_linestatus = 'O') AS "O"
        FROM lineitem GROUP BY 1"""

    sql["events_hourly"] = """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
            COUNT(*) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum,
            COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1, 2"""

    sql["events_stream_hourly"] = """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
            COUNT(*) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
        FROM events GROUP BY 1, 2"""

    sql["events_stream_cuboid"] = """
        SELECT event_type, date_trunc('hour', ts) AS window_start,
            COUNT(*) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                AS value_sum,
            CAST(MAX(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                AS value_max
        FROM events GROUP BY 1, 2"""

    sql["events_stream_cuboid_rewrite"] = """
        SELECT event_type,
            CAST(year(ts) AS BIGINT) AS year,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                AS value_sum,
            CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR)
                 AS DOUBLE) / COUNT(value) AS value_avg,
            COUNT(*) AS fact_count
        FROM events GROUP BY 1, 2"""

    sql["events_stream_auto_maintain"] = """
        SELECT CAST(year(ts) AS BIGINT) AS year,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
                AS value_sum,
            CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR)
                 AS DOUBLE) / COUNT(value) AS value_avg,
            COUNT(*) AS fact_count
        FROM events GROUP BY 1"""

    # stream-maintained registers are max-merged on read, which is
    # identical to sketching all events in one batch — rebuild the
    # registers+estimate directly (lineitem_hll arithmetic)
    sql["events_stream_hll_cuboid"] = """
        WITH h AS MATERIALIZED (
            SELECT event_type,
                CAST(concat('0x', substr(md5(concat('hll:',
                    CAST(user_id AS VARCHAR))), 1, 15)) AS BIGINT)
                    AS h
            FROM events
        ),
        ranks AS (
            SELECT event_type, CAST(h % 256 AS INT) AS bucket,
                CASE WHEN (h // 256) % 1099511627776 = 0 THEN 41
                     ELSE 41 - length(bin(
                        (h // 256) % 1099511627776)) END AS r
            FROM h
        ),
        regs AS MATERIALIZED (
            SELECT event_type, bucket, MAX(r) AS register
            FROM ranks GROUP BY 1, 2
        ),
        spine AS (
            SELECT t.event_type, b.bucket
            FROM (SELECT DISTINCT event_type FROM regs) t
            CROSS JOIN (SELECT unnest(generate_series(0, 255))
                        AS bucket) b
        ),
        sums AS (
            SELECT s.event_type,
                CAST(SUM(CAST(power(2.0,
                    41 - COALESCE(r.register, 0)) AS BIGINT))
                    AS BIGINT) AS s
            FROM spine s LEFT JOIN regs r
                ON s.event_type = r.event_type
                AND s.bucket = r.bucket
            GROUP BY 1
        )
        SELECT event_type,
            CAST((7183 * (144115188075855872 // s)) // 10000
                 AS BIGINT) AS hll_est
        FROM sums"""

    sql["events_stream_enrich"] = """
        WITH dim AS (
            SELECT event_type,
                upper(substr(event_type, 1, 1)) AS category,
                CAST(length(event_type) AS BIGINT) AS type_weight
            FROM (SELECT DISTINCT event_type FROM events))
        SELECT date_trunc('hour', ts) AS window_start, category,
            COUNT(*) AS n_events,
            CAST(SUM(type_weight) AS BIGINT) AS weight_sum,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum
        FROM events JOIN dim USING (event_type)
        GROUP BY 1, 2"""

    sql["events_type_stats"] = """
        SELECT event_type,
            COUNT(*) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS value_sum,
            MIN(value) AS value_min,
            MAX(value) AS value_max,
            COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1"""

    sql["doc_text_stats"] = (
        f"WITH base AS ({_text_stats_sql()}) {_TEXT_STATS_DERIVED}"
    )

    sql["doc_bpe_tokens"] = r"""
        SELECT doc_id,
            CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\s+')) END
                 AS BIGINT) AS n_ws_tokens,
            CAST(len(regexp_extract_all(text,
                '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+'))
                 AS BIGINT) AS n_bpe_tokens
        FROM documents"""

    sql["doc_fertility"] = r"""
        WITH per AS (
            SELECT lang, CAST(length(text) AS BIGINT) AS chars,
                CAST(len(regexp_extract_all(text,
                '''(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+'))
                     AS BIGINT) AS toks
            FROM documents)
        SELECT lang,
            CAST(sum(chars) AS BIGINT) AS total_chars,
            CAST(sum(toks) AS BIGINT) AS total_tokens,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(chars) * 10000 // sum(toks) AS BIGINT)
                AS chars_per_token_bp
        FROM per GROUP BY lang"""

    sql["doc_lang_quality"] = f"""
        WITH base AS ({_text_stats_sql()}),
        derived AS ({_TEXT_STATS_DERIVED})
        SELECT b.lang, COUNT(*) AS n_docs,
            CAST(SUM(d.n_tokens) AS BIGINT) AS total_tokens,
            -- integer basis points: exact long sum on both engines,
            -- single double division at the end (matches the Spark side
            -- bit-for-bit; see q_doc_lang_quality)
            CAST(SUM(CAST(round(d.quality_score * 10000) AS BIGINT))
                 / 10000.0 AS DOUBLE) AS quality_sum
        FROM base b JOIN derived d ON b.doc_id = d.doc_id
        GROUP BY 1"""

    langid_scores = f"""
        SELECT doc_id,
            list_sum(list_transform({_TOKENS}, t ->
                CASE WHEN lower(t) IN ({_STOP_DE}) THEN 1 ELSE 0 END))
                AS score_de,
            list_sum(list_transform({_TOKENS}, t ->
                CASE WHEN lower(t) IN ({_STOP_EN}) THEN 1 ELSE 0 END))
                AS score_en,
            list_sum(list_transform({_TOKENS}, t ->
                CASE WHEN lower(t) IN ({_STOP_ES}) THEN 1 ELSE 0 END))
                AS score_es,
            list_sum(list_transform({_TOKENS}, t ->
                CASE WHEN lower(t) IN ({_STOP_FR}) THEN 1 ELSE 0 END))
                AS score_fr
        FROM documents"""

    sql["doc_langid"] = f"""
        WITH scores AS ({langid_scores}),
        pred AS (
            SELECT doc_id,
                CASE WHEN greatest(COALESCE(score_de,0), COALESCE(score_en,0),
                                   COALESCE(score_es,0), COALESCE(score_fr,0))
                          = 0 THEN 'und'
                 WHEN COALESCE(score_de,0) >= COALESCE(score_en,0)
                  AND COALESCE(score_de,0) >= COALESCE(score_es,0)
                  AND COALESCE(score_de,0) >= COALESCE(score_fr,0) THEN 'de'
                 WHEN COALESCE(score_en,0) >= COALESCE(score_es,0)
                  AND COALESCE(score_en,0) >= COALESCE(score_fr,0) THEN 'en'
                 WHEN COALESCE(score_es,0) >= COALESCE(score_fr,0) THEN 'es'
                 ELSE 'fr' END AS lang_pred
            FROM scores
        )
        SELECT lang_pred, COUNT(*) AS n_docs FROM pred GROUP BY 1"""

    sql["doc_fingerprint"] = f"""
        SELECT doc_id, {_H64.format(x=_NORM)} AS fingerprint
        FROM documents"""

    sql["doc_exact_dup"] = f"""
        SELECT md5({_NORM}) AS content_hash,
            COUNT(*) AS cluster_size,
            MIN(doc_id) AS canonical_id
        FROM documents GROUP BY 1 HAVING COUNT(*) > 1"""

    sql["doc_minhash"] = f"""
        {_minhash_cte()}
        SELECT id_a, id_b,
            round(CAST(list_sum(list_transform(
                list_zip(sig_a, sig_b),
                p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END)) AS DOUBLE)
                / 16.0, 4) AS est_jaccard
        FROM pairs"""

    sql["doc_stream_near_dup"] = f"""
        {_minhash_cte()}
        SELECT l.doc_id AS id_old, r.doc_id AS id_new, l.band_id
        FROM banded l JOIN banded r
            ON l.band_id = r.band_id AND l.band_hash = r.band_hash
            AND r.doc_id > l.doc_id AND r.doc_id - l.doc_id <= 30"""

    sql["doc_jaccard"] = f"""
        {_minhash_cte()},
        shingle_sets AS (
            SELECT doc_id,
                list_distinct(list_transform(
                    generate_series(1, greatest(length({_NORM}) - 4, 1)),
                    i -> substr({_NORM}, i, 5))) AS shingles
            FROM documents
        ),
        jac AS (
            SELECT p.id_a, p.id_b,
                round(
                    CAST(len(list_intersect(a.shingles, b.shingles))
                         AS DOUBLE)
                    / len(list_distinct(list_concat(a.shingles, b.shingles))),
                    4) AS jaccard
            FROM pairs p
            JOIN shingle_sets a ON p.id_a = a.doc_id
            JOIN shingle_sets b ON p.id_b = b.doc_id
        )
        SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.5"""

    simhash_expr = f"""
        list_sum(list_transform(generate_series(0, 47), b ->
            CASE WHEN list_sum(list_transform(
                CASE WHEN trim(lower(text)) = '' THEN []
                     ELSE string_split_regex(trim(lower(text)), '\\s+') END,
                t -> (({_H64.format(x="t")} >> b) & 1) * 2 - 1)) > 0
            THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))"""

    sql["doc_simhash"] = f"""
        WITH sh AS (
            SELECT doc_id, {simhash_expr} AS simhash FROM documents
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS distance
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

    sql["emb_topk"] = _EMB_TOPK_SQL

    sql["emb_near_dup"] = """
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings
        ),
        scored AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, round(cosine, 6) AS cosine
        FROM scored WHERE cosine >= 0.4"""

    # -- formerly pytest-only operators --------------------------------

    sql["agg_summary"] = f"""
        SELECT CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem WHERE year(l_shipdate) = 1995"""

    # avg / variance / stddev exactly as the decimal-aware registry
    # computes them: exact decimal sums (VARCHAR-routed to double, see
    # calc_smvar note) with one final double formula
    _N = "CAST(COUNT(l_extendedprice) AS DOUBLE)"
    _S1 = f"CAST(CAST(SUM({_DEC_PRICE}) AS VARCHAR) AS DOUBLE)"
    _S2 = (f"CAST(CAST(SUM({_DEC_PRICE} * {_DEC_PRICE})"
           " AS VARCHAR) AS DOUBLE)")
    _PVAR = f"({_S2} - {_S1} * {_S1} / {_N}) / ({_N} - 1.0)"
    sql["agg_registry_stats"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            CAST(CAST(SUM({_DEC_QTY}) AS VARCHAR) AS DOUBLE)
                / CAST(COUNT(l_quantity) AS DOUBLE) AS quantity_avg,
            CAST(CAST(SUM({_DEC_DISC}) AS VARCHAR) AS DOUBLE)
                / CAST(COUNT(l_discount) AS DOUBLE) AS discount_avg,
            sqrt({_PVAR}) AS price_stddev,
            {_PVAR} AS price_variance,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["cell_count_total"] = """
        SELECT CAST(COUNT(*) AS BIGINT) AS total_cell_count
        FROM (
            SELECT DISTINCT year(l_shipdate), month(l_shipdate)
            FROM lineitem WHERE year(l_shipdate) = 1995
        )"""

    sql["fact_by_key"] = """
        SELECT DISTINCT l.l_orderkey AS fact_key,
            o.o_orderstatus AS "order.status",
            n.n_name AS "customer_geo.nation_name"
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_orderkey = 42"""

    _BIG_PARTS = ("SELECT p_partkey, p_brand, p_retailprice "
                  "FROM part WHERE p_size > 25")

    sql["join_master_brand"] = f"""
        WITH bp AS ({_BIG_PARTS})
        SELECT bp.p_brand AS "bigpart.brand",
            CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem l LEFT JOIN bp ON l.l_partkey = bp.p_partkey
        GROUP BY 1"""

    sql["join_detail_brand"] = f"""
        WITH bp AS ({_BIG_PARTS}
            UNION ALL SELECT CAST(-1 AS BIGINT), 'Brand#ZZ', 0.0)
        SELECT bp.p_brand AS "bigpart.brand",
            CAST(SUM(CAST(bp.p_retailprice AS DECIMAL(20,2))) AS DOUBLE)
                AS retailprice_sum,
            COUNT(*) AS fact_count
        FROM lineitem l RIGHT JOIN bp ON l.l_partkey = bp.p_partkey
        GROUP BY 1"""

    sql["join_compound_dqty"] = """
        WITH notes AS (
            SELECT l_orderkey AS o_key, l_linenumber AS l_num,
                l_quantity * 2 AS double_qty
            FROM lineitem
        )
        SELECT l.l_returnflag AS "returnflag.returnflag",
            CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                AS quantity_sum,
            CAST(SUM(CAST(n.double_qty AS DECIMAL(20,2))) AS DOUBLE)
                AS dqty_sum
        FROM lineitem l JOIN notes n
            ON l.l_orderkey = n.o_key AND l.l_linenumber = n.l_num
        GROUP BY 1"""

    sql["agg_null_filter"] = f"""
        WITH bp AS ({_BIG_PARTS})
        SELECT bp.p_brand AS "bigpart.brand",
            CAST(SUM(CAST(bp.p_retailprice AS DECIMAL(20,2))) AS DOUBLE)
                AS retailprice_sum,
            CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                AS quantity_sum
        FROM lineitem l LEFT JOIN bp ON l.l_partkey = bp.p_partkey
        GROUP BY 1
        HAVING SUM(CAST(bp.p_retailprice AS DECIMAL(20,2))) IS NOT NULL
           AND SUM(CAST(l.l_quantity AS DECIMAL(20,2))) IS NOT NULL"""

    sql["calc_order_norm"] = f"""
        SELECT "date.year", "date.month",
            CAST(dec_price_sum AS DOUBLE) AS price_sum,
            round(CAST(SUM(dec_price_sum) OVER w AS DOUBLE)
                  / COUNT(*) OVER w, 2) AS price_sma
        FROM ({ym_base})
        WINDOW w AS (ORDER BY "date.month" DESC, "date.year"
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)"""

    sql["members_locale"] = """
        SELECT DISTINCT r.r_regionkey AS "customer_geo.region_key",
            r.r_name AS "customer_geo.region_name",
            n.n_nationkey AS "customer_geo.nation_key",
            upper(n.n_name) AS "customer_geo.nation_name"
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_regionkey = 2"""

    sql["schema_inspect"] = """
        SELECT table_name, column_name,
            CAST(ordinal_position AS BIGINT) AS ordinal
        FROM information_schema.columns
        WHERE table_name IN ('region', 'nation', 'customer', 'supplier',
                             'part', 'orders', 'lineitem')"""

    sql["denorm_sink"] = f"""
        SELECT l_returnflag AS returnflag,
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["cuboid_enum"] = """
        SELECT * FROM (VALUES
            ('cuboid', CAST(1 AS BIGINT), 'date|customer_geo|part'),
            ('cuboid', CAST(2 AS BIGINT), 'date|customer_geo'),
            ('cuboid', CAST(3 AS BIGINT), 'date|part'),
            ('cuboid', CAST(4 AS BIGINT), 'date'),
            ('levels', CAST(1 AS BIGINT), 'year|region'),
            ('levels', CAST(2 AS BIGINT), 'year|region,nation'),
            ('levels', CAST(3 AS BIGINT), 'year|region,nation,customer'),
            ('levels', CAST(4 AS BIGINT), 'year,month|region'),
            ('levels', CAST(5 AS BIGINT), 'year,month|region,nation'),
            ('levels', CAST(6 AS BIGINT),
             'year,month|region,nation,customer'),
            ('levels', CAST(7 AS BIGINT), 'year,month,day|region'),
            ('levels', CAST(8 AS BIGINT), 'year,month,day|region,nation'),
            ('levels', CAST(9 AS BIGINT),
             'year,month,day|region,nation,customer')
        ) AS t(kind, seq, spec)"""

    # closed-form: the engine BUILDS real image bytes from doc_id and
    # parses them back; the oracle derives the answer arithmetically —
    # an independent derivation, so header-parser bugs can't cancel out
    sql["doc_multimodal"] = """
        SELECT doc_id,
            CASE CAST(doc_id % 4 AS INT)
                WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
            CAST(100 + doc_id % 900 AS BIGINT) AS width,
            CAST(80 + doc_id % 600 AS BIGINT) AS height
        FROM documents"""

    # pixel decode: payloads are closed-form in doc_id, so the oracle
    # recomputes the expected pixel sums directly — the Spark side must
    # produce identical numbers from ACTUAL decode of the PNG bytes
    sql["doc_pixel_decode"] = """
        WITH px AS (
            SELECT doc_id,
                4 + doc_id % 5 AS w,
                3 + doc_id % 4 AS h,
                list_sum(flatten(list_transform(
                    range(CAST(3 + doc_id % 4 AS INT)), y ->
                        list_transform(range(CAST(4 + doc_id % 5 AS INT)),
                            x -> (doc_id * 7 + x * 13 + y * 31) % 256))))
                    AS ssum
            FROM documents)
        SELECT doc_id,
            CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            CAST(w * h AS BIGINT) AS n_samples,
            CAST(ssum AS BIGINT) AS sample_sum,
            CAST(CAST(ssum AS DOUBLE) / (w * h) AS DOUBLE) AS sample_mean
        FROM px"""

    # custom stateful sessionization: classic gaps-and-islands replay;
    # value sums are floor(value*1e6) int64 (order-independent), the
    # sequence is the first 8 event types in (ts, event_id) order, and
    # each user's LAST session is dropped (it is still open in
    # GroupState under the append contract)
    sql["doc_pagerank"] = _guarded_oracle(_pagerank_oracle, "doc_pagerank")

    # unicode canonicalization: DuckDB nfc_normalize replays NFC
    sql["doc_normalize"] = """
        SELECT doc_id,
            CAST(length(nfc_normalize(text || ' caf' || 'e'
                 || chr(769))) AS BIGINT) AS n_chars_norm,
            md5(nfc_normalize(text || ' caf' || 'e' || chr(769)))
                AS norm_md5
        FROM documents"""

    # ordered funnel: min-after-min CTE chain, strict > at each hop
    sql["events_funnel"] = """
        WITH s1 AS (
            SELECT user_id, MIN(ts) AS t FROM events
            WHERE event_type = 'view' GROUP BY 1),
        s2 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        s3 AS (
            SELECT e.user_id, MIN(e.ts) AS t
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
            (SELECT COUNT(*) FROM s1) AS n_users
        UNION ALL
        SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        UNION ALL
        SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)"""

    # weekly cohort retention triangle (epoch-week integer buckets)
    sql["events_cohorts"] = """
        WITH tagged AS (
            SELECT user_id,
                CAST(floor(epoch(ts) / 604800) AS BIGINT) AS p
            FROM events),
        first AS (
            SELECT user_id, MIN(p) AS c FROM tagged GROUP BY 1)
        SELECT CAST(c AS BIGINT) AS cohort,
            CAST(p - c AS BIGINT) AS period_offset,
            COUNT(DISTINCT t.user_id) AS n_users
        FROM tagged t JOIN first USING (user_id)
        GROUP BY 1, 2"""

    # batch sessionization: the same islands, EVERY session kept
    sql["events_sessions_batch"] = """
        WITH e AS (
            SELECT event_id, ts, user_id, event_type,
                CAST(floor(value * 1000000) AS BIGINT) AS uval
            FROM events
        ),
        marked AS (
            SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        > 1800000000
                THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id
                                ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT *, SUM(new_s) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        )
        SELECT user_id,
            MIN(ts) AS session_start, MAX(ts) AS session_end,
            COUNT(*) AS n_events,
            CAST(SUM(uval) AS BIGINT) AS value_usum,
            array_to_string(list_slice(
                list(event_type ORDER BY ts, event_id), 1, 8), '>')
                AS event_seq
        FROM sess GROUP BY user_id, sid"""

    sql["events_sessions"] = """
        WITH e AS (
            SELECT event_id, ts, user_id, event_type,
                CAST(floor(value * 1000000) AS BIGINT) AS uval
            FROM events
        ),
        marked AS (
            SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                        > 1800000000
                THEN 1 ELSE 0 END AS new_s
            FROM e WINDOW w AS (PARTITION BY user_id
                                ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT *, SUM(new_s) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        ),
        agg AS (
            SELECT user_id, sid,
                MIN(ts) AS session_start, MAX(ts) AS session_end,
                COUNT(*) AS n_events,
                CAST(SUM(uval) AS BIGINT) AS value_usum,
                array_to_string(list_slice(
                    list(event_type ORDER BY ts, event_id), 1, 8), '>')
                    AS event_seq
            FROM sess GROUP BY 1, 2
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY session_start DESC) AS rn
            FROM agg
        )
        SELECT user_id, session_start, session_end, n_events,
            value_usum, event_seq
        FROM ranked WHERE rn > 1"""

    sql["events_browse"] = """
        SELECT year(ts) AS "date.year", month(ts) AS "date.month",
            day(ts) AS "date.day", event_type AS "etype.etype",
            CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR)
                 AS DOUBLE) AS value_sum,
            COUNT(*) AS fact_count
        FROM events
        WHERE year(ts) = 2024 AND month(ts) = 1
        GROUP BY 1, 2, 3, 4"""

    # native session_window: same islands, session_end = max ts + gap,
    # ALL sessions included (batch mode has no open-session state)
    sql["events_sessions_native"] = """
        WITH marked AS (
            SELECT user_id, ts, event_id, value,
                CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            >= 1800000000
                    THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT *, SUM(new_s) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        )
        SELECT MIN(ts) AS session_start,
            MAX(ts) + INTERVAL 30 MINUTE AS session_end,
            user_id,
            COUNT(*) AS n_events,
            CAST(CAST(SUM(CAST(value AS DECIMAL(20,6))) AS VARCHAR)
                 AS DOUBLE) AS value_sum
        FROM sess GROUP BY user_id, sid"""

    sql["auth_restricted"] = f"""
        SELECT o.o_orderstatus AS "order.status",
            CAST(SUM({_DEC_QTY.replace("l_", "l.l_")}) AS DOUBLE)
                AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE year(l.l_shipdate) = 1995 AND l.l_returnflag = 'A'
        GROUP BY 1"""

    sql["json_lines_format"] = """
        WITH agg AS (
            SELECT l_returnflag AS flag, COUNT(*) AS n
            FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1
        )
        SELECT row_number() OVER (ORDER BY flag) - 1 AS line,
            '{"returnflag.returnflag": "' || flag
                || '", "fact_count": ' || CAST(n AS VARCHAR) || '}'
                AS text
        FROM agg"""

    sql["doc_trigram_lm"] = f"""
        WITH norm AS (
            SELECT doc_id, {_NORM} AS t FROM documents
        ),
        tri AS (
            SELECT doc_id,
                unnest(list_transform(
                    generate_series(1, length(t) - 2),
                    i -> substr(t, i, 3))) AS tg
            FROM norm WHERE length(t) >= 3
        ),
        counts AS (SELECT tg, COUNT(*) AS n FROM tri GROUP BY 1),
        total AS (SELECT SUM(n) AS tot FROM counts),
        model AS (
            SELECT tg, n FROM counts ORDER BY n DESC, tg LIMIT 50000
        )
        SELECT t.doc_id,
            CAST(SUM(CAST(round(log2(
                COALESCE(CAST(m.n AS DOUBLE), 0.5)
                / (SELECT CAST(tot AS DOUBLE) FROM total)) * 10000)
                AS BIGINT)) AS BIGINT) AS sum_logq,
            COUNT(*) AS n_trigrams
        FROM tri t LEFT JOIN model m USING (tg)
        GROUP BY 1"""

    sql["doc_pipeline"] = f"""
        WITH base AS ({_text_stats_sql()}),
        derived AS ({_TEXT_STATS_DERIVED}),
        rep AS (
            SELECT doc_id,
                CASE WHEN len({_TOKENS}) >= 2 THEN
                    1.0 - CAST(len(list_distinct(list_transform(
                        generate_series(1, len({_TOKENS}) - 1),
                        i -> array_to_string(({_TOKENS})[i:i+1], ' '))))
                        AS DOUBLE) / (len({_TOKENS}) - 1)
                ELSE 0.0 END AS frac2
            FROM documents
        ),
        canon AS (
            SELECT doc_id,
                MIN(doc_id) OVER (PARTITION BY md5({_NORM}))
                    AS min_id
            FROM documents
        )
        SELECT b.lang, COUNT(*) AS n_kept,
            CAST(SUM(d.n_tokens) AS BIGINT) AS total_tokens
        FROM base b
        JOIN derived d ON b.doc_id = d.doc_id
        JOIN rep r ON b.doc_id = r.doc_id
        JOIN canon c ON b.doc_id = c.doc_id
        WHERE d.quality_score >= 0.5
          AND round(r.frac2, 4) < 0.3
          AND c.doc_id = c.min_id
        GROUP BY 1"""

    sql["doc_repetition"] = """
        WITH toks AS (
            SELECT doc_id,
                CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                     ELSE string_split_regex(trim(text), '\\s+') END
                    AS tk
            FROM documents
        )
        SELECT doc_id,
            round(CASE WHEN len(tk) >= 2 THEN
                1.0 - CAST(len(list_distinct(list_transform(
                    generate_series(1, len(tk) - 1),
                    i -> array_to_string(tk[i:i+1], ' ')))) AS DOUBLE)
                    / (len(tk) - 1)
                ELSE 0.0 END, 4) AS dup_ngram_frac_2,
            round(CASE WHEN len(tk) >= 3 THEN
                1.0 - CAST(len(list_distinct(list_transform(
                    generate_series(1, len(tk) - 2),
                    i -> array_to_string(tk[i:i+2], ' ')))) AS DOUBLE)
                    / (len(tk) - 2)
                ELSE 0.0 END, 4) AS dup_ngram_frac_3
        FROM toks"""

    _EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    _IPV4 = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
    _PHONE = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
    sql["doc_pii"] = f"""
        SELECT doc_id,
            CAST(len(regexp_extract_all(text, '{_EMAIL}')) AS BIGINT)
                AS n_email,
            CAST(len(regexp_extract_all(text, '{_IPV4}')) AS BIGINT)
                AS n_ipv4,
            CAST(len(regexp_extract_all(text, '{_PHONE}')) AS BIGINT)
                AS n_phone,
            md5(regexp_replace(regexp_replace(regexp_replace(text,
                '{_EMAIL}', '[EMAIL]', 'g'),
                '{_IPV4}', '[IPV4]', 'g'),
                '{_PHONE}', '[PHONE]', 'g')) AS redacted_hash
        FROM documents"""

    # winnowing replica: same normalization, same md5-derived gram
    # hashes, same window-min selection; xor is associative so
    # list_reduce equals Spark's 0-seeded fold
    sql["doc_winnow"] = """
        WITH norm AS (
            SELECT doc_id,
                regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
            FROM documents WHERE doc_id % 5 = 0
        ),
        grams AS (
            SELECT doc_id,
                list_transform(
                    generate_series(1, greatest(length(t) - 7, 1)),
                    i -> CAST(concat('0x',
                         substr(md5(substr(t, i, 8)), 1, 15)) AS BIGINT)
                ) AS g
            FROM norm
        ),
        minima AS (
            SELECT doc_id,
                list_distinct(list_transform(
                    generate_series(1, greatest(len(g) - 15, 1)),
                    j -> list_min(g[j:j+15])
                )) AS fps
            FROM grams
        )
        SELECT doc_id,
            CAST(len(fps) AS BIGINT) AS n_fingerprints,
            CAST(list_reduce(fps, (a, b) -> xor(a, b)) AS BIGINT)
                AS fp_xor
        FROM minima"""

    sql["preagg_refresh"] = f"""
        SELECT year(l_shipdate) AS year,
            CAST(SUM({_DEC_QTY}) AS DOUBLE) AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["salted_join"] = f"""
        SELECT p.p_brand AS brand,
            CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                AS quantity_sum,
            COUNT(*) AS fact_count
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1"""

    sql["doc_ssjoin"] = f"""
        WITH t AS (
            SELECT doc_id, list_distinct({_TOKENS}) AS s
            FROM documents WHERE doc_id < 300
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
            CAST(len(list_intersect(a.s, b.s)) AS BIGINT)
                AS inter_size,
            CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
                 AS BIGINT) AS union_size
        FROM t a JOIN t b ON a.doc_id < b.doc_id
        WHERE len(a.s) > 0 AND len(b.s) > 0
          AND len(list_intersect(a.s, b.s)) * 1000000
              >= 950000 * (len(a.s) + len(b.s)
                           - len(list_intersect(a.s, b.s)))"""

    sql["events_twap"] = """
        WITH e AS (
            SELECT user_id, ts, event_id, value,
                date_trunc('day', ts) AS day
            FROM events WHERE user_id < 40
        ),
        timed AS (
            SELECT user_id, day,
                CAST(round(value * 100) AS BIGINT) AS v_cents,
                COALESCE(
                    date_diff('microsecond', ts, lead(ts) OVER w),
                    date_diff('microsecond', ts,
                              day + INTERVAL 24 HOURS)) AS dur_us
            FROM e WINDOW w AS (PARTITION BY user_id, day
                                ORDER BY ts, event_id)
        )
        SELECT user_id, day,
            CAST(SUM(v_cents * dur_us) AS BIGINT)
                AS weighted_cents_us,
            CAST(SUM(dur_us) AS BIGINT) AS held_us,
            CAST(count(*) AS BIGINT) AS n_events
        FROM timed GROUP BY 1, 2"""

    sql["events_anomaly"] = """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                CAST(count(*) AS BIGINT) AS n
            FROM events WHERE event_type = 'error' GROUP BY 1
        ),
        stats AS (
            SELECT hour, n,
                avg(CAST(n AS DOUBLE)) OVER w AS mean,
                count(n) OVER w AS nw,
                SUM(CAST(n AS DOUBLE)) OVER w AS s,
                SUM(CAST(n * n AS DOUBLE)) OVER w AS s2
            FROM hourly
            WINDOW w AS (ORDER BY hour
                         ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        ),
        scored AS (
            SELECT hour, n,
                CASE WHEN nw < 2 THEN 0.0
                     ELSE (s2 - s * s / nw) / (nw - 1.0) END AS var,
                mean
            FROM stats
        )
        SELECT hour, n,
            CAST(round(CASE WHEN sqrt(var) > 0
                 THEN (CAST(n AS DOUBLE) - mean) / sqrt(var) END
                 * 10000) AS BIGINT) AS z_q,
            abs(COALESCE(CASE WHEN sqrt(var) > 0
                 THEN (CAST(n AS DOUBLE) - mean) / sqrt(var) END,
                 0.0)) > 3 AS is_anomaly
        FROM scored"""

    sql["events_paths"] = """
        WITH steps AS (
            SELECT event_type,
                lead(event_type, 1) OVER w AS e2,
                lead(event_type, 2) OVER w AS e3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        counted AS (
            SELECT event_type || '>' || e2 || '>' || e3 AS path,
                CAST(count(*) AS BIGINT) AS n_paths
            FROM steps WHERE e3 IS NOT NULL GROUP BY 1
        )
        SELECT path, n_paths,
            CAST(row_number() OVER (ORDER BY n_paths DESC, path)
                 AS BIGINT) AS rank
        FROM counted ORDER BY rank LIMIT 50"""

    sql["profile_orders"] = """
        SELECT 'o_orderkey' AS column, CAST(count(*) AS BIGINT)
                AS n_rows,
            CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_null,
            CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
            CAST(min(o_orderkey) AS VARCHAR) AS min_value,
            CAST(max(o_orderkey) AS VARCHAR) AS max_value
        FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(count(*) AS BIGINT),
            CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
            CAST(count(DISTINCT o_custkey) AS BIGINT),
            CAST(min(o_custkey) AS VARCHAR),
            CAST(max(o_custkey) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
            CAST(SUM(CASE WHEN o_orderstatus IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT),
            CAST(count(DISTINCT o_orderstatus) AS BIGINT),
            CAST(min(o_orderstatus) AS VARCHAR),
            CAST(max(o_orderstatus) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
            CAST(SUM(CASE WHEN o_totalprice IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT),
            CAST(count(DISTINCT o_totalprice) AS BIGINT),
            CAST(min(o_totalprice) AS VARCHAR),
            CAST(max(o_totalprice) AS VARCHAR)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
            CAST(SUM(CASE WHEN o_orderpriority IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT),
            CAST(count(DISTINCT o_orderpriority) AS BIGINT),
            CAST(min(o_orderpriority) AS VARCHAR),
            CAST(max(o_orderpriority) AS VARCHAR)
        FROM orders"""

    sql["events_scd2"] = """
        WITH e AS (
            SELECT user_id, ts, event_id, event_type FROM events
            WHERE user_id < 30
        ),
        flagged AS (
            SELECT user_id, ts, event_id, event_type,
                CASE WHEN row_number() OVER w = 1
                       OR (lag(event_type) OVER w
                           IS DISTINCT FROM event_type)
                     THEN 1 ELSE 0 END AS chg
            FROM e WINDOW w AS (PARTITION BY user_id
                                ORDER BY ts, event_id)
        ),
        ver AS (
            SELECT user_id, ts, event_type,
                SUM(chg) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS version
            FROM flagged
        ),
        runs AS (
            SELECT user_id, version, min(ts) AS valid_from,
                min(event_type) AS event_type
            FROM ver GROUP BY 1, 2
        )
        SELECT user_id, event_type, valid_from,
            lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY version) AS valid_to,
            lead(valid_from) OVER (PARTITION BY user_id
                                   ORDER BY version) IS NULL
                AS is_current,
            CAST(version AS BIGINT) AS version
        FROM runs"""

    sql["sql_view"] = """
        SELECT year(l_shipdate) AS year,
            CAST(SUM(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                AS quantity_sum,
            CAST(COUNT(*) AS BIGINT) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["parent_child"] = """
        WITH RECURSIVE nodes AS (
            SELECT c_custkey AS id,
                CASE WHEN c_custkey >= 10 THEN c_custkey // 10 END
                    AS parent
            FROM customer
        ),
        anc AS (
            SELECT id, id AS anc, 0 AS depth, parent AS next
            FROM nodes
            UNION ALL
            SELECT a.id, n.id, a.depth + 1, n.parent
            FROM anc a JOIN nodes n ON a.next = n.id
        )
        SELECT id, anc AS root, CAST(depth AS BIGINT) AS depth
        FROM anc WHERE next IS NULL"""

    sql["events_stream_hh"] = f"""
        SELECT date_trunc('day', ts) AS window_start, r.r AS row,
            CAST({_H64.format(x="concat('cm' || r.r || ':', CAST(user_id AS VARCHAR))")} % 64 AS INTEGER)
                AS bucket,
            CAST(count(*) AS BIGINT) AS n
        FROM events CROSS JOIN range(0, 2) r(r)
        GROUP BY 1, 2, 3"""

    _BLOOM_POS = ("CAST(" + _H64.format(
        x="concat('bl' || h.h || ':', CAST(user_id AS VARCHAR))")
        + " % 4096 AS BIGINT)")
    sql["events_bloom"] = f"""
        WITH members AS (
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND value > 90
        ),
        mpos AS (
            SELECT CAST({_BLOOM_POS} // 32 AS INTEGER) AS word,
                CAST(1 AS BIGINT) << CAST({_BLOOM_POS} % 32
                                          AS INTEGER) AS mask
            FROM members CROSS JOIN range(0, 5) h(h)
        ),
        bloom AS (
            SELECT word, bit_or(mask) AS bits FROM mpos GROUP BY 1
        ),
        probes AS (SELECT DISTINCT user_id FROM events),
        ppos AS (
            SELECT user_id,
                CAST({_BLOOM_POS} // 32 AS INTEGER) AS word,
                CAST(1 AS BIGINT) << CAST({_BLOOM_POS} % 32
                                          AS INTEGER) AS mask
            FROM probes CROSS JOIN range(0, 5) h(h)
        ),
        probed AS (
            SELECT p.user_id,
                CAST(SUM(CASE WHEN (COALESCE(b.bits, 0) & p.mask)
                              <> 0 THEN 1 ELSE 0 END) AS BIGINT)
                    = CAST(count(*) AS BIGINT) AS maybe_present
            FROM ppos p LEFT JOIN bloom b ON p.word = b.word
            GROUP BY 1
        )
        SELECT pr.user_id, pr.maybe_present,
            m.user_id IS NOT NULL AS actual,
            pr.maybe_present OR m.user_id IS NULL AS no_false_neg
        FROM probed pr LEFT JOIN members m
            ON pr.user_id = m.user_id"""

    sql["events_countmin"] = f"""
        WITH cells AS (
            SELECT r.r AS row,
                CAST({_H64.format(x="concat('cm' || r.r || ':', CAST(user_id AS VARCHAR))")} % 256 AS INTEGER)
                    AS bucket,
                CAST(count(*) AS BIGINT) AS n
            FROM events CROSS JOIN range(0, 4) r(r)
            GROUP BY 1, 2
        ),
        exact AS (
            SELECT user_id,
                CAST(count(*) AS BIGINT) AS exact_n
            FROM events GROUP BY 1
        ),
        probes AS (
            SELECT e.user_id, e.exact_n, r.r AS row,
                CAST({_H64.format(x="concat('cm' || r.r || ':', CAST(user_id AS VARCHAR))")} % 256 AS INTEGER)
                    AS bucket
            FROM exact e CROSS JOIN range(0, 4) r(r)
        )
        SELECT p.user_id, p.exact_n,
            CAST(min(COALESCE(c.n, 0)) AS BIGINT) AS cm_estimate,
            min(COALESCE(c.n, 0)) >= p.exact_n AS cm_ok
        FROM probes p LEFT JOIN cells c
            ON p.row = c.row AND p.bucket = c.bucket
        GROUP BY 1, 2"""

    sql["fuzzy_names"] = """
        SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
            CAST(levenshtein(a.c_name, b.c_name) AS BIGINT)
                AS distance
        FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        WHERE a.c_custkey <= 300 AND b.c_custkey <= 300
          AND levenshtein(a.c_name, b.c_name) <= 1"""

    sql["topk_per_region"] = f"""
        SELECT "customer_geo.region_key", "customer_geo.nation_key",
            "customer_geo.customer_key", price_sum,
            CAST(rank AS BIGINT) AS rank
        FROM (
            SELECT r.r_regionkey AS "customer_geo.region_key",
                n.n_nationkey AS "customer_geo.nation_key",
                c.c_custkey AS "customer_geo.customer_key",
                CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS price_sum,
                row_number() OVER (
                    PARTITION BY r.r_regionkey
                    ORDER BY CAST(SUM({_DEC_PRICE}) AS DOUBLE) DESC,
                             c.c_custkey) AS rank
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2, 3
        ) WHERE rank <= 3"""

    sql["events_gap_fill"] = """
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS hour,
                CAST(count(*) AS BIGINT) AS n_errors
            FROM events WHERE event_type = 'error' GROUP BY 1
        ),
        bounds AS (SELECT min(hour) AS lo, max(hour) AS hi
                   FROM hourly),
        spine AS (
            SELECT unnest(generate_series(lo, hi,
                                          INTERVAL 1 HOUR)) AS hour
            FROM bounds
        )
        SELECT s.hour,
            CAST(COALESCE(h.n_errors, 0) AS BIGINT) AS n_errors
        FROM spine s LEFT JOIN hourly h ON s.hour = h.hour"""

    sql["compact_roundtrip"] = """
        SELECT event_type,
            CAST(count(*) AS BIGINT) AS n_events,
            CAST(SUM(CAST(value AS DECIMAL(20,2))) AS DOUBLE)
                AS value_sum,
            CAST(min(event_id) AS BIGINT) AS min_id,
            CAST(max(event_id) AS BIGINT) AS max_id,
            TRUE AS compacted_ok
        FROM events GROUP BY 1"""

    sql["drill_across_flag"] = f"""
        WITH notes AS (
            SELECT l_orderkey AS o_key, l_linenumber AS l_num,
                l_quantity * 2 AS double_qty
            FROM lineitem
        ),
        s AS (
            SELECT l_returnflag AS flag,
                CAST(SUM({_DEC_PRICE}) AS DOUBLE) AS sales_price_sum,
                CAST(COUNT(*) AS BIGINT) AS sales_fact_count
            FROM lineitem GROUP BY 1
        ),
        o AS (
            SELECT l.l_returnflag AS flag,
                CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,2)))
                     AS DOUBLE) AS sales_outer_quantity_sum,
                CAST(SUM(CAST(n.double_qty AS DECIMAL(20,2)))
                     AS DOUBLE) AS sales_outer_dqty_sum
            FROM lineitem l JOIN notes n
                ON l.l_orderkey = n.o_key
               AND l.l_linenumber = n.l_num
            GROUP BY 1
        )
        SELECT COALESCE(s.flag, o.flag) AS "returnflag.returnflag",
            s.sales_price_sum, s.sales_fact_count,
            o.sales_outer_quantity_sum, o.sales_outer_dqty_sum
        FROM s FULL OUTER JOIN o ON s.flag = o.flag"""

    sql["events_stream_join"] = """
        SELECT p.event_id, p.user_id, p.value AS purchase_value,
            c.event_id AS click_id, c.value AS click_value,
            date_diff('microsecond', c.ts, p.ts) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 1800 SECONDS
         AND c.ts <= p.ts"""

    sql["events_asof"] = """
        SELECT p.event_id, p.user_id, p.value AS purchase_value,
            c.event_id AS click_id, c.value AS click_value,
            date_diff('microsecond', c.ts, p.ts) AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
            SELECT e.event_id, e.value, e.ts FROM events e
            WHERE e.event_type = 'click' AND e.user_id = p.user_id
              AND e.ts <= p.ts
              AND date_diff('microsecond', e.ts, p.ts)
                  <= 1800 * 1000000
            ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
        ) c ON TRUE"""

    sql["bucketed_join"] = """
        SELECT o.o_orderkey,
            CAST(SUM(CAST(l.l_quantity AS DECIMAL(20,2))) AS DOUBLE)
                AS quantity_sum,
            CAST(COUNT(*) AS BIGINT) AS line_count,
            MAX(o.o_orderpriority) AS priority
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1 HAVING COUNT(*) >= 6"""

    sql["agg_quantiles"] = """
        SELECT l_returnflag AS returnflag,
            quantile_cont(CAST(l_quantity AS BIGINT), 0.25) AS q25,
            quantile_cont(CAST(l_quantity AS BIGINT), 0.5) AS q50,
            quantile_cont(CAST(l_quantity AS BIGINT), 0.75) AS q75,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    # the HLL estimate itself is engine-defined; the oracle checks the
    # exact count and asserts the engine's estimate met the error bound
    sql["agg_approx_distinct"] = """
        SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
            TRUE AS within_5pct
        FROM lineitem"""

    sql["agg_expression_fns"] = f"""
        SELECT l_returnflag AS "returnflag.returnflag",
            -- no LEAST: DuckDB promotes LEAST(decimal,..) to DOUBLE
            CAST(SUM(CASE WHEN {_DEC_QTY} < 25 THEN {_DEC_QTY}
                     ELSE CAST(25 AS DECIMAL(20,2)) END
                     + COALESCE({_DEC_DISC}, CAST(0 AS DECIMAL(6,2))))
                AS DOUBLE) AS capped_qty_sum,
            CAST(SUM(CASE WHEN {_DEC_PRICE} > 2000
                 THEN round({_DEC_PRICE} / 1000, 0) ELSE 0 END)
                 AS DOUBLE) AS price_band_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["agg_count_nonempty"] = """
        SELECT l_returnflag AS "returnflag.returnflag",
            COUNT(nullif(l_discount, 0)) AS discount_nz_count,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    # streaming dedup: per-type distinct normalized content (the Spark
    # side keeps first arrivals; counts are arrival-order independent)
    sql["events_stream_dedup"] = r"""
        SELECT event_type,
            COUNT(DISTINCT regexp_replace(
                lower(trim(concat_ws('|', event_type, props))),
                '\s+', ' ', 'g')) AS n_unique
        FROM events GROUP BY 1"""

    # BMP decode: sum over stored B,G,R bytes (reorder is sum-invariant)
    sql["doc_bmp_decode"] = """
        WITH px AS (
            SELECT doc_id,
                3 + doc_id % 4 AS w,
                2 + doc_id % 3 AS h,
                list_sum(list_transform(range(CAST(2 + doc_id % 3 AS INT)),
                    y -> list_sum(list_transform(
                        range(CAST(3 + doc_id % 4 AS INT)),
                        x -> list_sum(list_transform([0, 1, 2],
                            c -> (doc_id * 3 + x * 7 + y * 11 + c * 5)
                                 % 256)))))) AS ssum
            FROM documents)
        SELECT doc_id,
            CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            CAST(w * h * 3 AS BIGINT) AS n_samples,
            CAST(ssum AS BIGINT) AS sample_sum
        FROM px"""

    # nearest resize to 2x2: output pixel (x, y) reads source pixel
    # ((x*w)//2, (y*h)//2) of the same stored-byte closed form
    sql["doc_image_resize"] = """
        WITH px AS (
            SELECT doc_id,
                3 + doc_id % 4 AS w,
                2 + doc_id % 3 AS h,
                list_sum(list_transform([0, 1],
                    y -> list_sum(list_transform([0, 1],
                        x -> list_sum(list_transform([0, 1, 2],
                            c -> (doc_id * 3
                                  + ((x * (3 + doc_id % 4)) // 2) * 7
                                  + ((y * (2 + doc_id % 3)) // 2) * 11
                                  + c * 5) % 256)))))) AS ssum
            FROM documents)
        SELECT doc_id,
            CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            CAST(2 AS BIGINT) AS out_width,
            CAST(2 AS BIGINT) AS out_height,
            CAST(12 AS BIGINT) AS n_samples,
            CAST(ssum AS BIGINT) AS sample_sum
        FROM px"""

    # GIF decode: grey palette (i,i,i) -> rgb_sum = 3 * index_sum
    sql["doc_gif_decode"] = """
        WITH px AS (
            SELECT doc_id,
                4 + doc_id % 5 AS w,
                3 + doc_id % 3 AS h,
                list_sum(list_transform(
                    range(CAST((4 + doc_id % 5) * (3 + doc_id % 3)
                               AS INT)),
                    i -> (doc_id * 5 + i * 29) % 256)) AS isum
            FROM documents)
        SELECT doc_id,
            CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
            CAST(w * h AS BIGINT) AS n_pixels,
            CAST(isum AS BIGINT) AS index_sum,
            CAST(3 * isum AS BIGINT) AS rgb_sum
        FROM px"""

    # audio decode: same closed-form-oracle pattern as doc_pixel_decode
    sql["doc_audio_decode"] = """
        WITH sm AS (
            SELECT doc_id,
                20 + doc_id % 16 AS n,
                8000 + (doc_id % 4) * 4000 AS rate,
                -- s16 reinterpretation of the stored u16 word:
                -- ((v + 32768) % 65536) - 32768
                list_sum(list_transform(
                    range(CAST(20 + doc_id % 16 AS INT)),
                    i -> (doc_id * 11 + i * 17 + 32768) % 65536 - 32768))
                    AS ssum
            FROM documents)
        SELECT doc_id,
            CAST(1 AS BIGINT) AS n_channels,
            CAST(rate AS BIGINT) AS sample_rate,
            CAST(n AS BIGINT) AS n_samples,
            CAST(ssum AS BIGINT) AS sample_sum,
            CAST(CAST(ssum AS DOUBLE) / n AS DOUBLE) AS sample_mean
        FROM sm"""

    # G.711 µ-law expansion, closed form: c = 255 - v (complement),
    # magnitude = ((c%16)*8 + 132) << ((c//16)%8), signed by bit 0x80
    sql["doc_g711_decode"] = """
        WITH sm AS (
            SELECT doc_id, 24 + doc_id % 8 AS n FROM documents),
        ex AS (
            SELECT doc_id, n,
                list_sum(list_transform(range(CAST(n AS INT)), i ->
                    CASE WHEN (255 - (doc_id * 7 + i * 13) % 256) >= 128
                        THEN 132 - (((255 - (doc_id * 7 + i * 13) % 256)
                                     % 16) * 8 + 132)
                             * (1 << (((255 - (doc_id * 7 + i * 13)
                                        % 256) // 16) % 8))
                        ELSE (((255 - (doc_id * 7 + i * 13) % 256)
                               % 16) * 8 + 132)
                             * (1 << (((255 - (doc_id * 7 + i * 13)
                                        % 256) // 16) % 8)) - 132
                    END)) AS ssum
            FROM sm)
        SELECT doc_id,
            CAST(1 AS BIGINT) AS n_channels,
            CAST(8000 AS BIGINT) AS sample_rate,
            CAST(n AS BIGINT) AS n_samples,
            CAST(ssum AS BIGINT) AS sample_sum
        FROM ex"""

    # nearest resample to 4 kHz: out_n = (n*4000)//rate frames, output
    # frame j reads source sample (j*n)//out_n of the same closed form
    sql["doc_audio_resample"] = """
        WITH sm AS (
            SELECT doc_id,
                20 + doc_id % 16 AS n,
                8000 + (doc_id % 4) * 4000 AS rate
            FROM documents),
        r AS (
            SELECT doc_id, n, rate,
                GREATEST(1, (n * 4000) // rate) AS out_n
            FROM sm)
        SELECT doc_id,
            CAST(rate AS BIGINT) AS sample_rate,
            CAST(4000 AS BIGINT) AS out_rate,
            CAST(out_n AS BIGINT) AS n_frames,
            CAST(out_n AS BIGINT) AS n_samples,
            CAST(list_sum(list_transform(range(CAST(out_n AS INT)),
                j -> (doc_id * 11 + ((j * n) // out_n) * 17 + 32768)
                     % 65536 - 32768)) AS BIGINT) AS sample_sum
        FROM r"""

    sql["agg_expression_case"] = """
        SELECT l_returnflag AS "returnflag.returnflag",
            CAST(SUM(CASE WHEN l_quantity < 10 THEN 1
                     WHEN l_quantity < 30 THEN 2
                     WHEN l_quantity < 45 THEN 3
                     ELSE 4 END) AS BIGINT) AS qty_tier_sum,
            COUNT(*) AS fact_count
        FROM lineitem GROUP BY 1"""

    sql["report_combo"] = """
        SELECT 'byflag' AS kind, l_returnflag AS member,
            COUNT(*) AS n
        FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 2
        UNION ALL
        SELECT 'status', o_orderstatus, 0 FROM (
            SELECT DISTINCT o.o_orderstatus
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE year(l.l_shipdate) = 1995
        )
        UNION ALL
        SELECT 'total', '', COUNT(*)
        FROM lineitem WHERE year(l_shipdate) = 1995"""

    sql["cell_details"] = """
        SELECT CAST(0 AS BIGINT) AS cut, CAST(0 AS BIGINT) AS lvl,
            CAST(r_regionkey AS VARCHAR) AS key, r_name AS label
        FROM region WHERE r_regionkey = 2
        UNION ALL
        SELECT 0, 1, CAST(n_nationkey AS VARCHAR), n_name
        FROM nation WHERE n_nationkey = 7
        UNION ALL
        SELECT 1, 0, '1995', '1995'"""

    sql["agg_natural_order"] = """
        SELECT * FROM (
            SELECT year(l_shipdate) AS "date.year",
                month(l_shipdate) AS "date.month",
                l_returnflag AS "returnflag.returnflag",
                COUNT(*) AS fact_count
            FROM lineitem GROUP BY 1, 2, 3
        ) ORDER BY "date.year", "date.month", "returnflag.returnflag"
        LIMIT 7 OFFSET 14"""

    sql["csv_format"] = f"""
        WITH agg AS (
            SELECT l_returnflag AS flag, COUNT(*) AS n,
                SUM({_DEC_QTY}) AS qs
            FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1
        )
        SELECT CAST(0 AS BIGINT) AS line,
            'returnflag.returnflag,fact_count,quantity_sum' AS text
        UNION ALL
        SELECT row_number() OVER (ORDER BY flag),
            flag || ',' || CAST(n AS VARCHAR) || ','
                 || CAST(qs AS VARCHAR)
        FROM agg"""

    # emb_ann / emb_ivf: the approximation is DETERMINISTIC (md5-derived
    # hyperplanes; fixed-seed k-means on a fixed sorted sample), so the
    # full approximate result is SQL-expressible — the plane/centroid
    # components are embedded as double literals identical to the ones
    # the Spark plan embeds via F.lit.  list_dot_product's summation
    # order matches Spark's sequential aggregate fold (proven bit-exact
    # by the emb_topk/emb_near_dup rows).
    sql["emb_ann"] = _guarded_oracle(_emb_ann_oracle, "emb_ann")
    sql["doc_keep_best"] = _guarded_oracle(
        _doc_keep_best_oracle, "doc_keep_best")
    sql["doc_dup_clusters"] = _guarded_oracle(_doc_dup_clusters_oracle, "doc_dup_clusters")
    sql["emb_projection"] = _guarded_oracle(_emb_projection_oracle, "emb_projection")
    sql["emb_ann_recall"] = _guarded_oracle(_emb_ann_recall_oracle, "emb_ann_recall")
    sql["emb_ivf_recall"] = _guarded_oracle(_emb_ivf_recall_oracle, "emb_ivf_recall")
    sql["emb_neardup_recall"] = _guarded_oracle(_emb_neardup_recall_oracle, "emb_neardup_recall")
    sql["emb_neardup_auto"] = _guarded_oracle(
        _emb_neardup_auto_oracle, "emb_neardup_auto")
    sql["emb_ivf"] = _guarded_oracle(_emb_ivf_oracle, "emb_ivf")
    sql["emb_kmeans"] = _guarded_oracle(_emb_kmeans_oracle, "emb_kmeans")

    # learned quality model: identical weights retrained from the
    # identical rounded features; logit = same IEEE op order
    def _quality_oracle():
        qw = _quality_weights()
        quality_terms = " + ".join(
        f"({qw[i + 1]!r} * {feat})" for i, feat in enumerate(
                ["len_score", "avg_token_len", "punct_ratio",
                 "digit_ratio", "stopword_ratio_en"]))
        return f"""
        WITH base AS ({_text_stats_sql()}),
        derived AS ({_TEXT_STATS_DERIVED}),
        feats AS ({_QUALITY_FEATURES_SQL})
        SELECT doc_id,
            round({qw[0]!r} + {quality_terms}, 6) AS logit,
            CAST(CASE WHEN {qw[0]!r} + {quality_terms} > 0
                 THEN 1 ELSE 0 END AS BIGINT) AS label
        FROM feats"""

    sql["doc_quality_model"] = _guarded_oracle(
        _quality_oracle, "doc_quality_model")
    sql["doc_dsir"] = _guarded_oracle(_dsir_oracle, "doc_dsir")
    sql["doc_communities"] = _guarded_oracle(
        _lpa_oracle, "doc_communities")
    sql["doc_bm25"] = _guarded_oracle(_bm25_oracle, "doc_bm25")

    def _rrf_oracle() -> str:
        # fuse the bm25 oracle's ranking (as a derived table) with
        # the length-prior top-20; exact 1e6 // (60 + rank) terms
        return f"""
        WITH bm AS ({_bm25_oracle()}),
        ln AS (
            SELECT doc_id, CAST(row_number() OVER (
                ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
            FROM documents
            ORDER BY n_chars DESC, doc_id LIMIT 20),
        u AS (
            SELECT doc_id, 1000000 // (60 + rank) AS c FROM bm
            UNION ALL
            SELECT doc_id, 1000000 // (60 + rank) FROM ln),
        f AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
                CAST(count(*) AS BIGINT) AS n_lists
            FROM u GROUP BY 1),
        r AS (
            SELECT doc_id, rrf_micro, n_lists,
                CAST(row_number() OVER (
                    ORDER BY rrf_micro DESC, doc_id) AS BIGINT)
                    AS fused_rank
            FROM f)
        SELECT doc_id, rrf_micro, n_lists, fused_rank
        FROM r WHERE fused_rank <= 10"""

    sql["doc_rrf"] = _guarded_oracle(_rrf_oracle, "doc_rrf")
    sql["doc_dsir_sample"] = _guarded_oracle(
        _dsir_sample_oracle, "doc_dsir_sample")
    sql["emb_pq"] = _guarded_oracle(_pq_oracle, "emb_pq")
    sql["emb_pq_recall"] = _guarded_oracle(
        _emb_pq_recall_oracle, "emb_pq_recall")

    sql["emb_semdedup"] = _guarded_oracle(_emb_semdedup_oracle, "emb_semdedup")
    sql["emb_semdedup_auto"] = _guarded_oracle(
        _emb_semdedup_auto_oracle, "emb_semdedup_auto")
    sql["emb_semdedup_greedy"] = _guarded_oracle(_emb_semdedup_greedy_oracle, "emb_semdedup_greedy")
    sql["doc_bpe_encode"] = _guarded_oracle(_bpe_oracle, "doc_bpe_encode")
    sql["doc_bpe_vocab"] = _guarded_oracle(_bpe_vocab_oracle, "doc_bpe_vocab")
    sql["doc_image_dedup"] = _guarded_oracle(_image_dedup_oracle, "doc_image_dedup")
    sql["doc_audio_dedup"] = _guarded_oracle(_audio_dedup_oracle, "doc_audio_dedup")

    # OLS trend: the five integer moment sums; staged r2 division
    # ((1e6*|num|) // dx * |num|) // dy replays Spark's decimal div.
    sql["orders_ols"] = """
        WITH b AS (
            SELECT o_orderpriority AS g,
                date_diff('day', DATE '1970-01-01',
                          CAST(o_orderdate AS DATE)) AS x,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS HUGEINT) AS y
            FROM orders GROUP BY 1, 2),
        m AS (
            SELECT g, CAST(count(*) AS HUGEINT) AS n,
                sum(CAST(x AS HUGEINT)) AS sx, sum(y) AS sy,
                sum(CAST(x AS HUGEINT) * y) AS sxy,
                sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
                sum(y * y) AS syy
            FROM b GROUP BY 1),
        d AS (
            SELECT g, n, n * sxy - sx * sy AS num,
                n * sxx - sx * sx AS dx, n * syy - sy * sy AS dy
            FROM m)
        SELECT g AS o_orderpriority, CAST(n AS BIGINT) AS n_buckets,
            CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * ((1000000 * abs(num)) // dx) AS BIGINT) AS slope_upd,
            CAST(((1000000 * abs(num)) // dx * abs(num)) // dy
                 AS BIGINT) AS r2_ppm
        FROM d WHERE dx > 0 AND dy > 0"""

    # JSON field stats: regexp mirror of from_json('k BIGINT') — the
    # field is numeric in every row; empty match -> NULL (counted).
    sql["events_json_stats"] = r"""
        WITH p AS (
            SELECT event_type,
                CAST(NULLIF(regexp_extract(
                    props, '"k":\s*(-?\d+)', 1), '') AS BIGINT) AS v
            FROM events)
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
            CAST(count(v) AS BIGINT) AS n_parsed,
            CAST(sum(v) AS BIGINT) AS sum_v,
            CAST(min(v) AS BIGINT) AS min_v,
            CAST(max(v) AS BIGINT) AS max_v
        FROM p GROUP BY 1"""

    # Two-sample KS: cumulative per-value counts, integer
    # cross-product gap, supremum with earliest-value tiebreak.
    sql["orders_ks"] = """
        WITH t AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                (o_orderpriority = '1-URGENT') AS a
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        h AS (
            SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
                sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
            FROM t GROUP BY 1),
        n AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
                     CAST(sum(cb) AS HUGEINT) AS nb FROM h),
        c AS (
            SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
                sum(cb) OVER (ORDER BY v) AS cumb
            FROM h),
        g AS (
            SELECT v, abs(CAST(cuma AS HUGEINT) * n.nb
                          - CAST(cumb AS HUGEINT) * n.na) AS gap
            FROM c, n)
        SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
            CAST((1000000 * g.gap) // (n.na * n.nb) AS BIGINT) AS d_ppm,
            CAST(g.v AS BIGINT) AS at_value_cents
        FROM g, n ORDER BY g.gap DESC, g.v ASC LIMIT 1"""

    # EMD: sum of |cum cross-products| * gap-to-next-value; the
    # oracle's global lead replays the distributed bucket successor.
    sql["orders_emd"] = """
        WITH t AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                (o_orderpriority = '1-URGENT') AS a
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        h AS (
            SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
                sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
            FROM t GROUP BY 1),
        n AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
                     CAST(sum(cb) AS HUGEINT) AS nb FROM h),
        c AS (
            SELECT v, sum(ca) OVER (ORDER BY v) AS cuma,
                sum(cb) OVER (ORDER BY v) AS cumb,
                COALESCE(lead(v) OVER (ORDER BY v), v) - v AS dv
            FROM h),
        s AS (
            SELECT sum(abs(CAST(cuma AS HUGEINT) * n.nb
                           - CAST(cumb AS HUGEINT) * n.na)
                       * CAST(dv AS HUGEINT)) AS t
            FROM c, n)
        SELECT CAST(n.na AS BIGINT) AS n_a,
            CAST(n.nb AS BIGINT) AS n_b,
            CAST((1000 * s.t) // (n.na * n.nb) AS BIGINT)
                AS emd_millicents
        FROM s, n"""

    # Inverted index: (term, doc) tf grain, df/cf, top-10 postings
    # as a string_agg in total (tf desc, doc asc) order.
    sql["doc_postings"] = r"""
        WITH tok AS (
            SELECT doc_id, unnest(CASE
                WHEN trim(lower(text)) = '' THEN []
                ELSE string_split_regex(trim(lower(text)), '\s+')
                END) AS t
            FROM documents),
        td AS (
            SELECT t AS term, doc_id, count(*) AS tf
            FROM tok WHERE t <> '' GROUP BY 1, 2),
        m AS (
            SELECT term, count(*) AS df, sum(tf) AS cf
            FROM td GROUP BY 1 HAVING count(*) >= 5),
        r AS (
            SELECT term, doc_id, tf, row_number() OVER (
                PARTITION BY term
                ORDER BY tf DESC, doc_id) AS rn
            FROM td),
        p AS (
            SELECT term, string_agg(doc_id || ':' || tf, ','
                ORDER BY tf DESC, doc_id) AS postings
            FROM r WHERE rn <= 10 GROUP BY 1)
        SELECT m.term, CAST(m.df AS BIGINT) AS df,
            CAST(m.cf AS BIGINT) AS cf, p.postings
        FROM m JOIN p ON m.term = p.term"""

    # TPC-H Q1: integer money units (cents / 1e-4 / 1e-6 dollars),
    # truncating-div averages.
    sql["tpch_q1"] = """
        WITH b AS (
            SELECT l_returnflag, l_linestatus,
                CAST(round(l_quantity * 100) AS BIGINT) AS qty,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS price,
                CAST(round(l_discount * 100) AS BIGINT) AS dc,
                CAST(round(l_tax * 100) AS BIGINT) AS tc
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'),
        a AS (
            SELECT l_returnflag, l_linestatus,
                sum(qty) AS sum_qty_cents,
                sum(price) AS sum_base_price_cents,
                sum(CAST(price AS HUGEINT) * (100 - dc)) AS sdp,
                sum(CAST(price AS HUGEINT) * (100 - dc) * (100 + tc))
                    AS sch,
                sum(dc) AS sdc, count(*) AS count_order
            FROM b GROUP BY 1, 2)
        SELECT l_returnflag, l_linestatus,
            CAST(sum_qty_cents AS BIGINT) AS sum_qty_cents,
            CAST(sum_base_price_cents AS BIGINT)
                AS sum_base_price_cents,
            CAST(sdp AS BIGINT) AS sum_disc_price_e4,
            CAST(sch AS BIGINT) AS sum_charge_e6,
            CAST(sum_qty_cents // count_order AS BIGINT)
                AS avg_qty_cents,
            CAST(sum_base_price_cents // count_order AS BIGINT)
                AS avg_price_cents,
            CAST(sdc // count_order AS BIGINT) AS avg_disc_pct,
            CAST(count_order AS BIGINT) AS count_order
        FROM a"""

    # TPC-H Q3: top-10 with full deterministic tiebreak.
    sql["tpch_q3"] = """
        SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
            CAST(sum(CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                     * (100 - CAST(round(l.l_discount * 100)
                                   AS BIGINT))) AS BIGINT)
                AS revenue_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND CAST(o.o_orderdate AS DATE) < DATE '1996-03-15'
          AND CAST(l.l_shipdate AS DATE) > DATE '1996-03-15'
        GROUP BY 1, 2, 3
        ORDER BY revenue_e4 DESC, o.o_orderdate ASC,
            l.l_orderkey ASC
        LIMIT 10"""

    # TPC-H Q5: local supply chains (c_nationkey = s_nationkey).
    sql["tpch_q5"] = """
        SELECT n.n_name,
            CAST(sum(CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                     * (100 - CAST(round(l.l_discount * 100)
                                   AS BIGINT))) AS BIGINT)
                AS revenue_e4,
            CAST(count(*) AS BIGINT) AS n_lineitems
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
            AND s.s_nationkey = c.c_nationkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
        GROUP BY 1"""

    # TPC-H Q7: bidirectional nation pair, ship-year grain.
    sql["tpch_q7"] = """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
            CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT)
                AS l_year,
            CAST(sum(CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                     * (100 - CAST(round(l.l_discount * 100)
                                   AS BIGINT))) AS BIGINT)
                AS revenue_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE sn.n_name IN ('NATION_1', 'NATION_2')
          AND cn.n_name IN ('NATION_1', 'NATION_2')
          AND sn.n_name <> cn.n_name
          AND EXTRACT(year FROM l.l_shipdate) BETWEEN 1996 AND 1997
        GROUP BY 1, 2, 3"""

    # TPC-H Q10: returned revenue per customer, top-20 deterministic.
    sql["tpch_q10"] = """
        SELECT c.c_custkey, c.c_name, n.n_name,
            CAST(sum(CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                     * (100 - CAST(round(l.l_discount * 100)
                                   AS BIGINT))) AS BIGINT)
                AS revenue_e4,
            CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
          AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
          AND CAST(o.o_orderdate AS DATE) < DATE '1996-04-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue_e4 DESC, c.c_custkey ASC
        LIMIT 20"""

    # TPC-H Q18: aggregate-then-semi-join on qualifying orders.
    sql["tpch_q18"] = """
        WITH q AS (
            SELECT l_orderkey,
                CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                     AS BIGINT) AS total_qty_cents
            FROM lineitem GROUP BY 1
            HAVING sum(CAST(round(l_quantity * 100) AS BIGINT))
                > 20000)
        SELECT c.c_custkey, c.c_name, o.o_orderkey,
            CAST(o.o_orderdate AS DATE) AS o_orderdate,
            CAST(round(o.o_totalprice * 100) AS BIGINT)
                AS o_totalprice_cents,
            q.total_qty_cents
        FROM q
        JOIN orders o ON q.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey"""

    # TPC-H Q13: left outer + two stacked aggregations.
    sql["tpch_q13"] = """
        WITH pc AS (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c
            LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                AND o.o_orderpriority <> '5-LOW'
            GROUP BY 1)
        SELECT CAST(c_count AS BIGINT) AS c_count,
            CAST(count(*) AS BIGINT) AS custdist
        FROM pc GROUP BY 1"""

    # TPC-H Q22: scalar-subquery average + anti-join never-ordered.
    sql["tpch_q22"] = """
        WITH scoped AS (
            SELECT c_custkey,
                substr(CAST(c_custkey AS VARCHAR), 1, 1)
                    AS cntrycode,
                CAST(round(c_acctbal * 100) AS BIGINT) AS bal
            FROM customer
            WHERE substr(CAST(c_custkey AS VARCHAR), 1, 1)
                IN ('1', '2', '3')),
        a AS (SELECT sum(bal) // count(*) AS avg_cents
              FROM scoped WHERE bal > 0),
        rich AS (
            SELECT s.* FROM scoped s, a
            WHERE s.bal > a.avg_cents),
        never AS (
            SELECT r.* FROM rich r
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = r.c_custkey
                  AND o.o_orderpriority = '1-URGENT'))
        SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
            CAST(sum(bal) AS BIGINT) AS totacctbal_cents
        FROM never GROUP BY 1"""

    # Theil-Sen: pairwise monthly-bucket slopes quantized to
    # micro-cents/day, exact lower-median order statistic per group.
    sql["orders_theilsen"] = """
        WITH b AS (
            SELECT o_orderpriority AS g,
                date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('month', o_orderdate) AS DATE))
                    AS x,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS y
            FROM orders GROUP BY 1, 2),
        p AS (
            SELECT l.g,
                CAST((CASE WHEN r.y - l.y < 0 THEN -1 ELSE 1 END)
                     * ((CAST(1000000 AS HUGEINT) * abs(r.y - l.y))
                        // (r.x - l.x)) AS BIGINT) AS s
            FROM b l JOIN b r ON l.g = r.g AND l.x < r.x),
        rk AS (
            SELECT g, s, row_number() OVER (
                PARTITION BY g ORDER BY s) AS rn,
                count(*) OVER (PARTITION BY g) AS n
            FROM p)
        SELECT g AS o_orderpriority,
            CAST(max(n) AS BIGINT) AS n_pairs,
            CAST(min(CASE WHEN rn >= (n + 1) // 2 THEN s END)
                 AS BIGINT) AS median_slope_upd
        FROM rk GROUP BY 1"""

    # Mann-Kendall: pairwise signs on the monthly grain + the exact
    # 18x tie-corrected variance numerator.
    sql["orders_mannkendall"] = """
        WITH b AS (
            SELECT o_orderpriority AS g,
                date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('month', o_orderdate) AS DATE))
                    AS x,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS y
            FROM orders GROUP BY 1, 2),
        p AS (
            SELECT l.g,
                CASE WHEN r.y > l.y THEN 1
                     WHEN r.y < l.y THEN -1 ELSE 0 END AS sgn
            FROM b l JOIN b r ON l.g = r.g AND l.x < r.x),
        s AS (
            SELECT g, CAST(sum(sgn) AS BIGINT) AS s,
                CAST(count(*) AS BIGINT) AS n_pairs
            FROM p GROUP BY 1),
        t AS (
            SELECT g, y, count(*) AS t FROM b GROUP BY 1, 2),
        ties AS (
            SELECT g,
                sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5))
                    AS tcorr,
                CAST(sum(t) AS HUGEINT) AS n
            FROM t GROUP BY 1)
        SELECT s.g AS o_orderpriority,
            CAST(ties.n AS BIGINT) AS n_buckets, s.n_pairs, s.s,
            CAST(ties.n * (ties.n - 1) * (2 * ties.n + 5)
                 - COALESCE(ties.tcorr, 0) AS BIGINT) AS var_s_x18
        FROM s JOIN ties ON s.g = ties.g"""

    langid_pred_case = """
            CASE WHEN greatest(COALESCE(score_de,0), COALESCE(score_en,0),
                               COALESCE(score_es,0), COALESCE(score_fr,0))
                      = 0 THEN 'und'
             WHEN COALESCE(score_de,0) >= COALESCE(score_en,0)
              AND COALESCE(score_de,0) >= COALESCE(score_es,0)
              AND COALESCE(score_de,0) >= COALESCE(score_fr,0) THEN 'de'
             WHEN COALESCE(score_en,0) >= COALESCE(score_es,0)
              AND COALESCE(score_en,0) >= COALESCE(score_fr,0) THEN 'en'
             WHEN COALESCE(score_es,0) >= COALESCE(score_fr,0) THEN 'es'
             ELSE 'fr' END"""

    # Heaps curve: hash-bucketed nested samples, token min-bucket
    # first appearances, 10-row cumulative sums.
    sql["doc_heaps"] = rf"""
        WITH d AS (
            SELECT doc_id, text,
                ({_H64.format(x="CAST(doc_id AS VARCHAR)")} % 10)
                    + 1 AS b
            FROM documents),
        toks AS (
            SELECT b, unnest(CASE WHEN trim(lower(text)) = '' THEN []
                ELSE string_split_regex(trim(lower(text)), '\s+')
                END) AS t
            FROM d),
        tt AS (SELECT b, t FROM toks WHERE t <> ''),
        docs AS (SELECT b, count(*) AS docs FROM d GROUP BY 1),
        tc AS (SELECT b, count(*) AS toks FROM tt GROUP BY 1),
        fs AS (
            SELECT fb AS b, count(*) AS new FROM (
                SELECT t, min(b) AS fb FROM tt GROUP BY 1)
            GROUP BY 1),
        sp AS (SELECT unnest(generate_series(1, 10)) AS b),
        j AS (
            SELECT sp.b, COALESCE(docs.docs, 0) AS docs,
                COALESCE(tc.toks, 0) AS toks,
                COALESCE(fs.new, 0) AS new
            FROM sp LEFT JOIN docs ON docs.b = sp.b
            LEFT JOIN tc ON tc.b = sp.b
            LEFT JOIN fs ON fs.b = sp.b)
        SELECT CAST(b AS BIGINT) AS fraction,
            CAST(sum(docs) OVER w AS BIGINT) AS n_docs_cum,
            CAST(sum(toks) OVER w AS BIGINT) AS n_tokens_cum,
            CAST(sum(new) OVER w AS BIGINT) AS n_types_cum
        FROM j WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)"""

    # Confusion matrix: raw (truth, predicted) counts.
    sql["doc_confusion"] = f"""
        WITH scores AS ({langid_scores}),
        pr AS (
            SELECT d.lang AS truth, {langid_pred_case} AS predicted
            FROM scores s JOIN documents d ON s.doc_id = d.doc_id)
        SELECT truth, predicted, CAST(count(*) AS BIGINT) AS n
        FROM pr GROUP BY 1, 2"""

    # Type audience overlap: exact pairwise intersection/Jaccard.
    sql["events_type_overlap"] = """
        WITH tu AS (
            SELECT DISTINCT event_type, user_id FROM events),
        sizes AS (
            SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*) AS n_both
            FROM tu a JOIN tu b ON a.user_id = b.user_id
                AND a.event_type < b.event_type
            GROUP BY 1, 2)
        SELECT p.type_a, p.type_b,
            CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
            CAST(p.n_both AS BIGINT) AS n_both,
            CAST(sa.n + sb.n - p.n_both AS BIGINT) AS n_union,
            CAST((1000000 * p.n_both) // (sa.n + sb.n - p.n_both)
                 AS BIGINT) AS jaccard_ppm
        FROM pairs p
        JOIN sizes sa ON sa.event_type = p.type_a
        JOIN sizes sb ON sb.event_type = p.type_b"""

    # TPC-H Q6: pure filter + aggregation, integer discount band.
    sql["tpch_q6"] = """
        SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
            CAST(sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                     * CAST(round(l_discount * 100) AS BIGINT))
                 AS BIGINT) AS revenue_e4
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
          AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
          AND l_quantity < 24"""

    # TPC-H Q8: conditional + total revenue in one aggregation.
    sql["tpch_q8"] = """
        WITH rev AS (
            SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT)
                    AS o_year,
                CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                    * (100 - CAST(round(l.l_discount * 100)
                                  AS BIGINT)) AS r,
                sn.n_name AS supp_nation
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
                AND p.p_type = 'PROMO'
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation cn ON c.c_nationkey = cn.n_nationkey
            JOIN region rg ON cn.n_regionkey = rg.r_regionkey
                AND rg.r_name = 'ASIA'
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
        a AS (
            SELECT o_year,
                sum(CASE WHEN supp_nation = 'NATION_1' THEN r
                    ELSE 0 END) AS t,
                sum(r) AS tot
            FROM rev GROUP BY 1)
        SELECT o_year, CAST(t AS BIGINT) AS target_revenue_e4,
            CAST(tot AS BIGINT) AS total_revenue_e4,
            CAST((1000000 * t) // tot AS BIGINT) AS share_ppm
        FROM a"""

    # TPC-H Q14: promo share of one ship month, exact ppm.
    sql["tpch_q14"] = """
        WITH rev AS (
            SELECT CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                    * (100 - CAST(round(l.l_discount * 100)
                                  AS BIGINT)) AS r,
                p.p_type
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
              AND CAST(l.l_shipdate AS DATE) < DATE '1996-02-01')
        SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
            CAST(sum(CASE WHEN p_type = 'PROMO' THEN r ELSE 0 END)
                 AS BIGINT) AS promo_revenue_e4,
            CAST(sum(r) AS BIGINT) AS total_revenue_e4,
            CAST((1000000 * sum(CASE WHEN p_type = 'PROMO' THEN r
                                ELSE 0 END)) // sum(r) AS BIGINT)
                AS promo_share_ppm
        FROM rev"""

    # Stickiness: sum(DAU) over active days vs MAU, exact ppm.
    sql["events_stickiness"] = """
        WITH dk AS (
            SELECT DISTINCT date_trunc('month', ts) AS month,
                CAST(ts AS DATE) AS d, user_id
            FROM events),
        dau AS (
            SELECT month, sum(dau) AS dau_sum, count(*) AS n_days
            FROM (SELECT month, d, count(*) AS dau
                  FROM dk GROUP BY 1, 2)
            GROUP BY 1),
        mau AS (
            SELECT month, count(DISTINCT user_id) AS mau
            FROM dk GROUP BY 1)
        SELECT dau.month, CAST(dau_sum AS BIGINT) AS dau_sum,
            CAST(n_days AS BIGINT) AS n_days,
            CAST(mau AS BIGINT) AS mau,
            CAST((CAST(1000000 AS HUGEINT) * dau_sum)
                 // (CAST(n_days AS HUGEINT) * mau) AS BIGINT)
                AS stickiness_ppm
        FROM dau JOIN mau ON dau.month = mau.month"""

    # Lorenz deciles: ascending-spend cumulative counts and sums,
    # boundary = smallest amount whose cum count reaches ceil(d*N/10).
    sql["orders_lorenz"] = """
        WITH pk AS (
            SELECT o_custkey,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS amt
            FROM orders GROUP BY 1),
        h AS (
            SELECT amt, count(*) AS c,
                CAST(sum(CAST(amt AS HUGEINT) * count(*))
                     OVER (ORDER BY amt) AS HUGEINT) AS wcum,
                sum(count(*)) OVER (ORDER BY amt) AS cum
            FROM pk GROUP BY amt),
        t AS (SELECT max(cum) AS n, max(wcum) AS w FROM h),
        sp AS (
            SELECT CAST(d AS BIGINT) AS decile,
                (d * (SELECT n FROM t) + 9) // 10 AS rank
            FROM (SELECT unnest(generate_series(1, 10)) AS d)),
        hit AS (
            SELECT sp.decile, sp.rank, h.amt, h.cum, h.wcum
            FROM sp JOIN h ON h.cum >= sp.rank),
        m AS (
            SELECT decile, rank, min(amt) AS amt
            FROM hit GROUP BY 1, 2)
        SELECT m.decile, CAST(m.rank AS BIGINT) AS rank,
            CAST(h.cum AS BIGINT) AS cum_entities,
            CAST((CAST(1000000 AS HUGEINT) * h.wcum)
                 // (SELECT w FROM t) AS BIGINT) AS cum_share_ppm
        FROM m JOIN h ON h.amt = m.amt"""

    # Distinctive terms: positive chi-square cells on the
    # (source, token) grain, top-5 per source, deterministic order.
    sql["doc_distinctive"] = r"""
        WITH toks AS (
            SELECT source AS stratum,
                unnest(CASE WHEN trim(lower(text)) = '' THEN []
                    ELSE string_split_regex(trim(lower(text)), '\s+')
                    END) AS t
            FROM documents),
        obs AS (
            SELECT stratum, t, count(*) AS o
            FROM toks WHERE t <> '' GROUP BY 1, 2),
        rm AS (SELECT stratum, sum(o) AS rm FROM obs GROUP BY 1),
        cm AS (SELECT t, sum(o) AS cm FROM obs GROUP BY 1),
        n AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM obs),
        cells AS (
            SELECT obs.stratum, obs.t, obs.o,
                CAST(obs.o AS HUGEINT) * n.n
                    - CAST(rm.rm AS HUGEINT) * cm.cm AS dev,
                CAST(rm.rm AS HUGEINT) AS rm,
                CAST(cm.cm AS HUGEINT) AS cm, n.n
            FROM obs
            JOIN rm ON obs.stratum = rm.stratum
            JOIN cm ON obs.t = cm.t
            CROSS JOIN n
            WHERE obs.o >= 10),
        pos AS (
            SELECT stratum, t, o,
                CAST((dev * dev * 1000000) // (rm * cm * n)
                     AS BIGINT) AS contrib_ppm
            FROM cells WHERE dev > 0),
        rk AS (
            SELECT stratum, t, o, contrib_ppm, row_number() OVER (
                PARTITION BY stratum
                ORDER BY contrib_ppm DESC, t ASC) AS rn
            FROM pos)
        SELECT stratum, t AS term, CAST(o AS BIGINT) AS n,
            contrib_ppm, CAST(rn AS BIGINT) AS rank
        FROM rk WHERE rn <= 5"""

    # Streaming windowed quantiles: the stream only merges bucket
    # counts, so the batch replay is the same histogram walk.
    sql["events_stream_quantiles"] = """
        WITH h AS (
            SELECT date_trunc('day', ts) AS ws,
                CAST(round(value * 100) AS BIGINT) // 100 AS bucket,
                count(*) AS n
            FROM events GROUP BY 1, 2),
        c AS (
            SELECT ws, bucket, n,
                sum(n) OVER (PARTITION BY ws ORDER BY bucket)
                    AS cum,
                sum(n) OVER (PARTITION BY ws) AS total
            FROM h),
        q AS (SELECT unnest([2500, 5000, 9900]) AS q_bp),
        hit AS (
            SELECT ws, q_bp, bucket, total FROM c, q
            WHERE cum * 10000 >= q_bp * total),
        m AS (
            SELECT ws, q_bp, min(bucket) AS bucket,
                min(total) AS total
            FROM hit GROUP BY 1, 2)
        SELECT m.ws AS window_start, CAST(m.q_bp AS BIGINT) AS q_bp,
            CAST(m.bucket AS BIGINT) AS bucket,
            CAST(m.bucket * 100 AS BIGINT) AS est_lo,
            CAST((m.bucket + 1) * 100 - 1 AS BIGINT) AS est_hi,
            CAST(c2.cum AS BIGINT) AS cum_count,
            CAST(m.total AS BIGINT) AS total
        FROM m JOIN c c2 ON c2.ws = m.ws AND c2.bucket = m.bucket"""

    # CUPED: pooled integer moments, theta ppm, truncating-div chain.
    sql["events_cuped"] = """
        WITH pr AS (
            SELECT user_id AS u,
                CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS t,
                CAST(round((CASE WHEN ts < TIMESTAMP '2024-01-16'
                    THEN value ELSE 0 END) * 100) AS BIGINT) AS px,
                CAST(round((CASE WHEN ts >= TIMESTAMP '2024-01-16'
                    THEN value ELSE 0 END) * 100) AS BIGINT) AS py
            FROM events),
        units AS (
            SELECT u, max(t) AS t, CAST(sum(px) AS HUGEINT) AS x,
                CAST(sum(py) AS HUGEINT) AS y
            FROM pr GROUP BY 1),
        m AS (
            SELECT CAST(count(*) AS HUGEINT) AS n,
                sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                sum(x * x) AS sxx,
                CAST(sum(t) AS HUGEINT) AS nt,
                sum(CASE WHEN t = 1 THEN x ELSE 0 END) AS sxt,
                sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS syt
            FROM units),
        d AS (
            SELECT n, nt, n - nt AS nc, sx - sxt AS sxc,
                sy - syt AS syc, sxt, syt,
                n * sxy - sx * sy AS covn,
                n * sxx - sx * sx AS varn
            FROM m
            WHERE nt > 0 AND n - nt > 0 AND n * sxx - sx * sx > 0),
        e AS (
            SELECT nt, nc,
                (CASE WHEN covn < 0 THEN -1 ELSE 1 END)
                    * ((1000000 * abs(covn)) // varn) AS theta,
                (1000000 * syt) // nt - (1000000 * syc) // nc AS dy,
                (1000000 * sxt) // nt - (1000000 * sxc) // nc AS dx
            FROM d)
        SELECT CAST(nt AS BIGINT) AS n_treat,
            CAST(nc AS BIGINT) AS n_control,
            CAST(dy AS BIGINT) AS raw_diff_microcents,
            CAST(theta AS BIGINT) AS theta_ppm,
            CAST(dy - (theta * dx) // 1000000 AS BIGINT)
                AS adj_diff_microcents
        FROM e"""

    # Score AUC: Mann-Whitney on (label, n_chars) — same cumulative
    # machinery as orders_mwu with a derived binary label.
    sql["doc_score_auc"] = """
        WITH t AS (
            SELECT CAST(round(CAST(n_chars AS DOUBLE) * 100)
                        AS BIGINT) AS v,
                (lang = 'en') AS a
            FROM documents),
        h AS (
            SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
                sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
            FROM t GROUP BY 1),
        n AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
                     CAST(sum(cb) AS HUGEINT) AS nb FROM h),
        c AS (
            SELECT v, ca, cb, sum(ca) OVER (ORDER BY v) AS cuma,
                sum(cb) OVER (ORDER BY v) AS cumb
            FROM h),
        s AS (
            SELECT sum(CAST(ca AS HUGEINT)
                       * (2 * (cuma + cumb) - (ca + cb) + 1))
                AS r1x2
            FROM c)
        SELECT CAST(n.na AS BIGINT) AS n_a,
            CAST(n.nb AS BIGINT) AS n_b,
            CAST(s.r1x2 - n.na * (n.na + 1) AS BIGINT) AS u_doubled,
            CAST((1000000 * (s.r1x2 - n.na * (n.na + 1)))
                 // (2 * n.na * n.nb) AS BIGINT) AS auc_ppm
        FROM s, n"""

    # MASE: seasonal-naive vs one-step naive absolute errors on the
    # daily sum series, aligned tail, one truncating div.
    sql["events_mase"] = """
        WITH b AS (
            SELECT event_type AS g, date_trunc('day', ts) AS d,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     AS BIGINT) AS y
            FROM events GROUP BY 1, 2),
        l AS (
            SELECT g, y, lag(y, 1) OVER w AS l1,
                lag(y, 7) OVER w AS ls
            FROM b WINDOW w AS (PARTITION BY g ORDER BY d)),
        a AS (
            SELECT g, count(*) AS n_terms,
                sum(abs(y - ls)) AS se, sum(abs(y - l1)) AS sn
            FROM l WHERE l1 IS NOT NULL AND ls IS NOT NULL
            GROUP BY 1)
        SELECT g AS event_type, CAST(n_terms AS BIGINT) AS n_terms,
            CAST(se AS BIGINT) AS sum_err_season_cents,
            CAST(sn AS BIGINT) AS sum_err_naive_cents,
            CAST((CAST(1000000 AS HUGEINT) * se) // sn AS BIGINT)
                AS mase_ppm
        FROM a WHERE sn > 0"""

    # Runs test: per-user median via row_number rank, sign flips
    # under (ts, event_id) order, 2ab/n + 1 benchmark in ppm.
    sql["events_runs"] = """
        WITH b AS (
            SELECT user_id, ts, event_id,
                CAST(round(value * 100) AS BIGINT) AS v
            FROM events),
        r AS (
            SELECT user_id, v,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY user_id) AS n
            FROM b),
        m AS (
            SELECT user_id,
                min(CASE WHEN rn >= (n + 1) // 2 THEN v END) AS med
            FROM r GROUP BY 1),
        s AS (
            SELECT b.user_id, b.ts, b.event_id,
                CASE WHEN b.v > m.med THEN 1 ELSE 0 END AS sgn
            FROM b JOIN m ON b.user_id = m.user_id
            WHERE b.v <> m.med),
        f AS (
            SELECT user_id, sgn,
                CASE WHEN lag(sgn) OVER w IS NOT NULL
                     AND lag(sgn) OVER w <> sgn
                THEN 1 ELSE 0 END AS flip
            FROM s
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY ts, event_id)),
        a AS (
            SELECT user_id, count(*) AS n_signs, sum(sgn) AS n_above,
                sum(1 - sgn) AS n_below, sum(flip) + 1 AS n_runs
            FROM f GROUP BY 1)
        SELECT user_id, CAST(n_signs AS BIGINT) AS n_signs,
            CAST(n_above AS BIGINT) AS n_above,
            CAST(n_below AS BIGINT) AS n_below,
            CAST(n_runs AS BIGINT) AS n_runs,
            CAST((CAST(2000000 AS HUGEINT) * n_above * n_below)
                 // n_signs + 1000000 AS BIGINT)
                AS expected_runs_ppm
        FROM a WHERE n_above > 0 AND n_below > 0"""

    # Last-digit GOF: digit spine, (10*O - N)^2 // (10*N) in ppm.
    sql["orders_lastdigit"] = """
        WITH b AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) % 10
                AS cat
            FROM orders),
        o AS (SELECT cat, count(*) AS o FROM b GROUP BY 1),
        n AS (SELECT CAST(sum(o) AS HUGEINT) AS N FROM o),
        sp AS (SELECT unnest(generate_series(0, 9)) AS cat),
        g AS (
            SELECT CAST(sp.cat AS BIGINT) AS cat,
                COALESCE(o.o, 0) AS o, n.N
            FROM sp CROSS JOIN n LEFT JOIN o ON o.cat = sp.cat)
        SELECT cat, CAST(o AS BIGINT) AS observed,
            CAST((1000000 * N) // 10 AS BIGINT) AS expected_ppm,
            CAST(((10 * CAST(o AS HUGEINT) - N)
                  * (10 * CAST(o AS HUGEINT) - N) * 1000000)
                 // (10 * N) AS BIGINT) AS contrib_ppm
        FROM g"""

    # Log-rank: duration grain with per-group splits, at-risk prefix
    # sums, per-time truncated-micro E and V terms over death times.
    sql["events_logrank"] = """
        WITH per_user AS (
            SELECT user_id, min(ts) AS first_ts,
                min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS death_ts,
                max(ts) AS last_ts
            FROM events GROUP BY 1),
        dur AS (
            SELECT date_diff('day', CAST(first_ts AS DATE),
                CAST(COALESCE(death_ts, last_ts) AS DATE)) AS t,
                CASE WHEN death_ts IS NOT NULL THEN 1 ELSE 0 END
                    AS ev,
                CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a
            FROM per_user),
        per_t AS (
            SELECT CAST(t AS BIGINT) AS t, sum(ev) AS d,
                sum(CASE WHEN a = 1 THEN ev ELSE 0 END) AS d1,
                count(*) AS c, sum(a) AS c1
            FROM dur GROUP BY 1),
        tot AS (SELECT sum(c) AS N, sum(c1) AS N1 FROM per_t),
        staged AS (
            SELECT t, d, d1,
                CAST((SELECT N FROM tot) - COALESCE(
                    sum(c) OVER w, 0) AS HUGEINT) AS n,
                CAST((SELECT N1 FROM tot) - COALESCE(
                    sum(c1) OVER w, 0) AS HUGEINT) AS n1
            FROM per_t
            WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED
                         PRECEDING AND 1 PRECEDING)),
        terms AS (
            SELECT d1,
                (CAST(1000000 AS HUGEINT) * d * n1) // n AS e_t,
                CASE WHEN n > 1 THEN
                    (CAST(1000000 AS HUGEINT) * d * n1 * (n - n1)
                     * (n - d)) // (n * n * (n - 1))
                ELSE 0 END AS v_t
            FROM staged WHERE d > 0)
        SELECT (SELECT CAST(N1 AS BIGINT) FROM tot) AS n_a,
            (SELECT CAST(N - N1 AS BIGINT) FROM tot) AS n_b,
            CAST(sum(d1) AS BIGINT) AS o_a,
            CAST(sum(e_t) AS BIGINT) AS e_a_micro,
            CAST(sum(v_t) AS BIGINT) AS v_micro
        FROM terms"""

    # Vocabulary growth: (source, token) grain, hapax = freq-1 types.
    sql["doc_vocab_growth"] = r"""
        WITH tok AS (
            SELECT source AS stratum,
                unnest(CASE WHEN trim(lower(text)) = '' THEN []
                    ELSE string_split_regex(trim(lower(text)), '\s+')
                    END) AS t
            FROM documents),
        g AS (
            SELECT stratum, t, count(*) AS c
            FROM tok WHERE t <> '' GROUP BY 1, 2),
        s AS (
            SELECT stratum, CAST(sum(c) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_types,
                CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_hapax
            FROM g GROUP BY 1)
        SELECT stratum, n_tokens, n_types, n_hapax,
            CAST((1000000 * n_types) // n_tokens AS BIGINT)
                AS ttr_ppm,
            CAST((1000000 * n_hapax) // n_types AS BIGINT)
                AS hapax_ppm
        FROM s"""

    # HHI concentration: (lang, source) grain, (1e6 * sum c^2) // N^2.
    sql["doc_source_hhi"] = """
        WITH g AS (
            SELECT lang, source, count(*) AS c
            FROM documents GROUP BY 1, 2)
        SELECT lang, CAST(sum(c) AS BIGINT) AS n_rows,
            CAST(count(*) AS BIGINT) AS n_sources,
            CAST((1000000 * sum(CAST(c AS HUGEINT) * c))
                 // (CAST(sum(c) AS HUGEINT) * sum(c)) AS BIGINT)
                AS hhi_ppm
        FROM g GROUP BY 1"""

    # Peak concurrency: +1/-1 sweep over distinct boundary instants,
    # max running sum with earliest-boundary tiebreak.
    sql["events_concurrency"] = """
        WITH pts AS (
            SELECT epoch_us(ts) AS t, 1 AS d FROM events
            UNION ALL
            SELECT epoch_us(ts) + 1800000000, -1 FROM events),
        h AS (SELECT t, sum(d) AS nd FROM pts GROUP BY 1),
        c AS (SELECT t, sum(nd) OVER (ORDER BY t) AS run FROM h),
        b AS (
            SELECT run, t, row_number() OVER (
                ORDER BY run DESC, t ASC) AS rn
            FROM c)
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM events)
                AS n_intervals,
            CAST(run AS BIGINT) AS peak, CAST(t AS BIGINT) AS at_us
        FROM b WHERE rn = 1"""

    # Skyline: distinct-x max-y grain, strict suffix-max dominance,
    # vertex multiplicity from a join back to the facts.
    sql["orders_skyline"] = """
        WITH b AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
                CAST(date_diff('day', DATE '1970-01-01',
                     CAST(o_orderdate AS DATE)) * 100 AS BIGINT) AS y
            FROM orders),
        g AS (SELECT x, max(y) AS my FROM b GROUP BY 1),
        t AS (
            SELECT x, my, max(my) OVER (
                ORDER BY x DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                AS thr
            FROM g),
        f AS (SELECT x, my FROM t WHERE thr IS NULL OR my > thr)
        SELECT f.x AS x_cents, f.my AS y_cents,
            CAST(count(*) AS BIGINT) AS n_points
        FROM b JOIN f ON b.x = f.x AND b.y = f.my
        GROUP BY 1, 2"""

    # Mann-Whitney: doubled tie-averaged rank sum off the cumulative
    # frame; u_doubled = 2*R1 - na*(na+1); AUC one truncating div.
    sql["orders_mwu"] = """
        WITH t AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
                (o_orderpriority = '1-URGENT') AS a
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        h AS (
            SELECT v, sum(CASE WHEN a THEN 1 ELSE 0 END) AS ca,
                sum(CASE WHEN a THEN 0 ELSE 1 END) AS cb
            FROM t GROUP BY 1),
        n AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
                     CAST(sum(cb) AS HUGEINT) AS nb FROM h),
        c AS (
            SELECT v, ca, cb, sum(ca) OVER (ORDER BY v) AS cuma,
                sum(cb) OVER (ORDER BY v) AS cumb
            FROM h),
        s AS (
            SELECT sum(CAST(ca AS HUGEINT)
                       * (2 * (cuma + cumb) - (ca + cb) + 1))
                AS r1x2
            FROM c)
        SELECT CAST(n.na AS BIGINT) AS n_a,
            CAST(n.nb AS BIGINT) AS n_b,
            CAST(s.r1x2 - n.na * (n.na + 1) AS BIGINT) AS u_doubled,
            CAST((1000000 * (s.r1x2 - n.na * (n.na + 1)))
                 // (2 * n.na * n.nb) AS BIGINT) AS auc_ppm
        FROM s, n"""


    # Per-class P/R/F1 of langid vs the stored label: pair grain,
    # full outer label set, exact ppm divisions.
    sql["doc_langid_eval"] = f"""
        WITH scores AS ({langid_scores}),
        pr AS (
            SELECT d.lang AS a, {langid_pred_case} AS b
            FROM scores s JOIN documents d ON s.doc_id = d.doc_id),
        pairs AS (SELECT a, b, count(*) AS n FROM pr GROUP BY 1, 2),
        sup AS (SELECT a AS label, sum(n) AS n_true
                FROM pairs GROUP BY 1),
        prd AS (SELECT b AS label, sum(n) AS n_pred
                FROM pairs GROUP BY 1),
        tp AS (SELECT a AS label, sum(n) AS tp
               FROM pairs WHERE a = b GROUP BY 1),
        grid AS (
            SELECT COALESCE(sup.label, prd.label) AS label,
                COALESCE(n_true, 0) AS n_true,
                COALESCE(n_pred, 0) AS n_pred
            FROM sup FULL JOIN prd ON sup.label = prd.label),
        g2 AS (
            SELECT grid.label, n_true, n_pred,
                COALESCE(tp.tp, 0) AS tp
            FROM grid LEFT JOIN tp ON tp.label = grid.label)
        SELECT label, CAST(n_true AS BIGINT) AS n_true,
            CAST(n_pred AS BIGINT) AS n_pred,
            CAST(tp AS BIGINT) AS tp,
            CAST(CASE WHEN n_pred > 0 THEN (1000000 * tp) // n_pred
                 ELSE 0 END AS BIGINT) AS precision_ppm,
            CAST(CASE WHEN n_true > 0 THEN (1000000 * tp) // n_true
                 ELSE 0 END AS BIGINT) AS recall_ppm,
            CAST(CASE WHEN n_true + n_pred > 0
                 THEN (2000000 * tp) // (n_true + n_pred)
                 ELSE 0 END AS BIGINT) AS f1_ppm
        FROM g2"""

    # Cohen's kappa: (A*N - sum R*C) / (N^2 - sum R*C) in exact ppm.
    sql["doc_kappa"] = f"""
        WITH scores AS ({langid_scores}),
        pr AS (
            SELECT d.lang AS a, {langid_pred_case} AS b
            FROM scores s JOIN documents d ON s.doc_id = d.doc_id),
        pairs AS (SELECT a, b, count(*) AS n FROM pr GROUP BY 1, 2),
        am AS (SELECT a AS l, sum(n) AS ra FROM pairs GROUP BY 1),
        bm AS (SELECT b AS l, sum(n) AS cb FROM pairs GROUP BY 1),
        pe AS (
            SELECT COALESCE(sum(CAST(am.ra AS HUGEINT) * bm.cb),
                            0) AS pe
            FROM am JOIN bm USING (l)),
        tot AS (
            SELECT CAST(sum(n) AS HUGEINT) AS N,
                CAST(sum(CASE WHEN a = b THEN n ELSE 0 END)
                     AS HUGEINT) AS A
            FROM pairs)
        SELECT CAST(tot.N AS BIGINT) AS n,
            CAST(tot.A AS BIGINT) AS n_agree,
            CAST((CASE WHEN tot.A * tot.N - pe.pe < 0 THEN -1
                  ELSE 1 END)
                 * ((1000000 * abs(tot.A * tot.N - pe.pe))
                    // (tot.N * tot.N - pe.pe)) AS BIGINT)
                AS kappa_ppm
        FROM tot, pe WHERE tot.N * tot.N - pe.pe > 0"""

    # Max drawdown: running sum + running peak windows, worst gap
    # picked by (dd desc, trough asc) — min(struct) on the Spark side.
    sql["events_drawdown"] = """
        WITH b AS (
            SELECT user_id, ts, event_id,
                CAST(round(value * (CASE WHEN event_type = 'error'
                    THEN -1 ELSE 1 END) * 100) AS BIGINT) AS x
            FROM events),
        c AS (
            SELECT user_id, ts, event_id,
                sum(x) OVER w AS c
            FROM b
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING)),
        p AS (
            SELECT user_id, c,
                max(c) OVER (PARTITION BY user_id ORDER BY ts,
                    event_id ROWS UNBOUNDED PRECEDING) AS p
            FROM c),
        r AS (
            SELECT user_id, c, p, p - c AS dd, row_number() OVER (
                PARTITION BY user_id
                ORDER BY p - c DESC, c ASC) AS rn
            FROM p)
        SELECT r.user_id, s.n_rows, s.max_cum_cents,
            CAST(r.dd AS BIGINT) AS max_drawdown_cents,
            CAST(r.p AS BIGINT) AS peak_cents,
            CAST(r.c AS BIGINT) AS trough_cents
        FROM r JOIN (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(max(c) AS BIGINT) AS max_cum_cents
            FROM c GROUP BY 1) s ON s.user_id = r.user_id
        WHERE r.rn = 1"""

    # Kaplan-Meier: duration grain + the recursive-CTE replay of the
    # truncated product-limit recurrence.
    sql["events_km"] = """
        WITH RECURSIVE per_user AS (
            SELECT user_id, min(ts) AS first_ts,
                min(CASE WHEN event_type = 'purchase' THEN ts END)
                    AS death_ts,
                max(ts) AS last_ts
            FROM events GROUP BY 1),
        dur AS (
            SELECT date_diff('day', CAST(first_ts AS DATE),
                CAST(COALESCE(death_ts, last_ts) AS DATE)) AS t,
                CASE WHEN death_ts IS NOT NULL THEN 1 ELSE 0 END
                    AS ev
            FROM per_user),
        per_t AS (
            SELECT CAST(t AS BIGINT) AS t, sum(ev) AS d,
                sum(1 - ev) AS c
            FROM dur GROUP BY 1),
        tot AS (SELECT sum(d + c) AS N FROM per_t),
        step AS (
            SELECT t, d, c, row_number() OVER (ORDER BY t) AS i,
                CAST((SELECT N FROM tot) - COALESCE(
                    sum(d + c) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS HUGEINT) AS nar
            FROM per_t),
        r(i, s) AS (
            SELECT 0, CAST(1000000 AS HUGEINT)
            UNION ALL
            SELECT step.i,
                CASE WHEN step.d > 0
                    THEN (r.s * (step.nar - step.d)) // step.nar
                    ELSE r.s END
            FROM r JOIN step ON step.i = r.i + 1)
        SELECT step.t, CAST(step.nar AS BIGINT) AS n_at_risk,
            CAST(step.d AS BIGINT) AS n_deaths,
            CAST(step.c AS BIGINT) AS n_censored,
            CAST(r.s AS BIGINT) AS survival_ppm
        FROM r JOIN step ON step.i = r.i"""

    sql["doc_textrank"] = _guarded_oracle(_textrank_oracle,
                                          "doc_textrank")

    # Spearman: doubled centered average ranks (exact zero-sum
    # integers), staged rho^2 division as in orders_ols.
    sql["lineitem_spearman"] = """
        WITH b AS (
            SELECT l_returnflag AS g,
                CAST(round(l_quantity * 100) AS BIGINT) AS x,
                CAST(round(l_extendedprice * 100) AS BIGINT) AS y
            FROM lineitem),
        r AS (
            SELECT g,
                CAST(2 * rank() OVER (PARTITION BY g ORDER BY x)
                     + count(*) OVER (PARTITION BY g, x)
                     - count(*) OVER (PARTITION BY g) - 2
                     AS HUGEINT) AS rx,
                CAST(2 * rank() OVER (PARTITION BY g ORDER BY y)
                     + count(*) OVER (PARTITION BY g, y)
                     - count(*) OVER (PARTITION BY g) - 2
                     AS HUGEINT) AS ry
            FROM b),
        m AS (
            SELECT g, count(*) AS n_rows, sum(rx * ry) AS num,
                sum(rx * rx) AS dx, sum(ry * ry) AS dy
            FROM r GROUP BY 1)
        SELECT g AS l_returnflag, CAST(n_rows AS BIGINT) AS n_rows,
            CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                 * (((1000000 * abs(num)) // dx * abs(num)) // dy)
                 AS BIGINT) AS signed_rho2_ppm
        FROM m WHERE dx > 0 AND dy > 0"""

    # Chi-square: full margin cross-product grid (structural zeros
    # included), per-cell truncated-ppm contributions.
    sql["events_chisq"] = """
        WITH p AS (
            SELECT event_type AS r,
                CAST(EXTRACT(hour FROM ts) AS BIGINT) AS c
            FROM events),
        o AS (SELECT r, c, count(*) AS o FROM p GROUP BY 1, 2),
        rm AS (SELECT r, sum(o) AS rm FROM o GROUP BY 1),
        cm AS (SELECT c, sum(o) AS cm FROM o GROUP BY 1),
        n AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM o),
        g AS (
            SELECT rm.r, cm.c, COALESCE(o.o, 0) AS o,
                CAST(rm.rm AS HUGEINT) AS rm,
                CAST(cm.cm AS HUGEINT) AS cm, n.n
            FROM rm CROSS JOIN cm CROSS JOIN n
            LEFT JOIN o ON o.r = rm.r AND o.c = cm.c),
        d AS (
            SELECT r, c, o, rm, cm, n,
                CAST(o AS HUGEINT) * n - rm * cm AS dev
            FROM g)
        SELECT r AS event_type, c AS hour,
            CAST(o AS BIGINT) AS observed,
            CAST((rm * cm * 1000000) // n AS BIGINT) AS expected_ppm,
            CAST((dev * dev * 1000000) // (rm * cm * n) AS BIGINT)
                AS contrib_ppm
        FROM d"""

    # Rolling median: sorted bounded ROWS frame, lower median at
    # ceil(n/2) — the exact window the Spark side builds.
    sql["events_rolling_median"] = """
        SELECT user_id, ts,
            CAST(round(value * 100) AS BIGINT) AS value_cents,
            list_sort(list(CAST(round(value * 100) AS BIGINT))
                      OVER w)[CAST(ceil(
                count(*) OVER w / 2.0) AS INT)] AS rolling_median_cents
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)"""

    # Winsorize: percentile_disc ranks via add-before-divide ceil
    # ((p*n + 1e6-1) // 1e6; // truncates), clamp + re-sum in cents.
    sql["orders_winsorize"] = """
        WITH b AS (
            SELECT o_orderpriority AS g,
                CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders),
        r AS (
            SELECT g, v,
                row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY g) AS n
            FROM b),
        q AS (
            SELECT g, max(n) AS n_rows,
                min(CASE WHEN rn >= (CAST(50000 AS HUGEINT) * n
                                     + 999999) // 1000000
                    THEN v END) AS lo,
                min(CASE WHEN rn >= (CAST(950000 AS HUGEINT) * n
                                     + 999999) // 1000000
                    THEN v END) AS hi
            FROM r GROUP BY 1)
        SELECT b.g AS o_orderpriority,
            CAST(max(q.n_rows) AS BIGINT) AS n_rows,
            CAST(max(q.lo) AS BIGINT) AS lo_cents,
            CAST(max(q.hi) AS BIGINT) AS hi_cents,
            CAST(sum(greatest(least(b.v, q.hi), q.lo)) AS BIGINT)
                AS winsorized_sum_cents,
            CAST(sum(CASE WHEN b.v < q.lo THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_clamped_lo,
            CAST(sum(CASE WHEN b.v > q.hi THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_clamped_hi
        FROM b JOIN q ON b.g = q.g GROUP BY 1"""

    # Inter-arrival gaps: lag micros per key; gap multiset is
    # invariant under tie order, so aggregates are deterministic.
    sql["orders_interarrival"] = """
        WITH l AS (
            SELECT o_custkey,
                epoch_us(o_orderdate) - lag(epoch_us(o_orderdate))
                    OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate) AS g
            FROM orders)
        SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_gaps,
            CAST(min(g) AS BIGINT) AS min_gap_us,
            CAST(max(g) AS BIGINT) AS max_gap_us,
            CAST(sum(g) // count(*) AS BIGINT) AS avg_gap_us
        FROM l WHERE g IS NOT NULL GROUP BY 1"""

    # Mode: highest count then smallest value.
    sql["events_mode"] = """
        WITH c AS (
            SELECT user_id, event_type AS v, count(*) AS cnt
            FROM events GROUP BY 1, 2),
        r AS (
            SELECT user_id, v, cnt, row_number() OVER (
                PARTITION BY user_id
                ORDER BY cnt DESC, v ASC) AS rn
            FROM c)
        SELECT user_id, v AS mode_value,
            CAST(cnt AS BIGINT) AS mode_count
        FROM r WHERE rn = 1"""

    # ---- TPC-H round-10 additions -------------------------------------

    # Q2: correlated min decorrelated; supply cost = min unit price per
    # distinct (part, supplier) lineitem pair, exact 1e-4 $ units.
    sql["tpch_q2"] = """
        WITH costs AS (
            SELECT l_partkey, l_suppkey,
                min((CAST(round(l_extendedprice * 100) AS HUGEINT)
                     * 10000)
                    // CAST(round(l_quantity * 100) AS BIGINT))
                    AS supplycost_e4
            FROM lineitem GROUP BY 1, 2),
        supp AS (
            SELECT s_suppkey, s_name, n.n_name,
                CAST(round(s_acctbal * 100) AS BIGINT)
                    AS s_acctbal_cents
            FROM supplier s
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'),
        scoped AS (
            SELECT c.l_partkey AS p_partkey, p.p_brand, su.s_name,
                su.n_name, su.s_acctbal_cents, c.supplycost_e4
            FROM costs c
            JOIN supp su ON c.l_suppkey = su.s_suppkey
            JOIN part p ON c.l_partkey = p.p_partkey
            WHERE p.p_size = 15 AND p.p_type = 'MEDIUM'),
        best AS (
            SELECT p_partkey, min(supplycost_e4) AS b
            FROM scoped GROUP BY 1)
        SELECT s.p_partkey, s.p_brand, s.s_name, s.n_name,
            s.s_acctbal_cents,
            CAST(s.supplycost_e4 AS BIGINT) AS supplycost_e4
        FROM scoped s
        JOIN best b ON s.p_partkey = b.p_partkey
            AND s.supplycost_e4 = b.b
        ORDER BY s.s_acctbal_cents DESC, s.n_name, s.s_name,
            s.p_partkey
        LIMIT 100"""

    # Q9: profit with p_retailprice as the unit-cost stand-in.
    sql["tpch_q9"] = """
        SELECT n.n_name AS nation,
            CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
            CAST(sum(CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                     * (100 - CAST(round(l.l_discount * 100)
                                   AS BIGINT))
                     - CAST(round(p.p_retailprice * 100) AS HUGEINT)
                     * CAST(round(l.l_quantity * 100) AS BIGINT))
                 AS BIGINT) AS profit_e4,
            CAST(count(*) AS BIGINT) AS n_lineitems
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%bolt%'
        GROUP BY 1, 2"""

    # Q11: HAVING vs the global scalar total (0.1%% = 1000 ppm).
    sql["tpch_q11"] = """
        WITH pp AS (
            SELECT l_partkey,
                sum(CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                    * (100 - CAST(round(l.l_discount * 100)
                                  AS BIGINT))) AS v
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_7'
            GROUP BY 1)
        SELECT l_partkey, CAST(v AS BIGINT) AS value_e4
        FROM pp
        WHERE v > (SELECT sum(v) * 1000 // 1000000 FROM pp)"""

    # Q15: revenue view + scalar max, ties surface.
    sql["tpch_q15"] = """
        WITH rev AS (
            SELECT l_suppkey,
                sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                    * (100 - CAST(round(l_discount * 100)
                                  AS BIGINT))) AS r
            FROM lineitem
            WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
              AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
            GROUP BY 1)
        SELECT s.s_suppkey, s.s_name,
            CAST(r AS BIGINT) AS total_revenue_e4
        FROM rev JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        WHERE r = (SELECT max(r) FROM rev)
        ORDER BY s.s_suppkey"""

    # Q16: NOT IN -> anti-join; negative balance = "complaints".
    sql["tpch_q16"] = """
        WITH pairs AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
            WHERE l_suppkey NOT IN (
                SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        SELECT p.p_brand, p.p_type, p.p_size,
            CAST(count(DISTINCT pr.l_suppkey) AS BIGINT)
                AS supplier_cnt
        FROM pairs pr JOIN part p ON pr.l_partkey = p.p_partkey
        WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
          AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        GROUP BY 1, 2, 3"""

    # Q17: per-part correlated average as exact cross-multiplication.
    sql["tpch_q17"] = """
        WITH li AS (
            SELECT l.l_partkey,
                CAST(round(l.l_quantity * 100) AS BIGINT) AS q,
                CAST(round(l.l_extendedprice * 100) AS BIGINT) AS pr
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_brand = 'Brand#3'),
        st AS (
            SELECT l_partkey, count(*) AS n, sum(q) AS sq
            FROM li GROUP BY 1)
        SELECT CAST(count(*) AS BIGINT) AS n_small_lineitems,
            CAST(sum(pr) AS BIGINT) AS total_price_cents,
            CAST(sum(pr) // 7 AS BIGINT) AS avg_yearly_cents
        FROM li JOIN st USING (l_partkey)
        WHERE CAST(q AS HUGEINT) * 5 * n < sq"""

    # Q19: disjunctive brand/size/quantity branches.
    sql["tpch_q19"] = """
        SELECT CAST(count(*) AS BIGINT) AS n_lineitems,
            CAST(sum(CAST(round(l.l_extendedprice * 100) AS HUGEINT)
                     * (100 - CAST(round(l.l_discount * 100)
                                   AS BIGINT))) AS BIGINT)
                AS revenue_e4
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
               AND CAST(round(l.l_quantity) AS BIGINT)
                   BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
               AND CAST(round(l.l_quantity) AS BIGINT)
                   BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
               AND CAST(round(l.l_quantity) AS BIGINT)
                   BETWEEN 20 AND 30)"""

    # Q20: nested IN-chain; dominance = shipped > half the part total.
    sql["tpch_q20"] = """
        WITH li AS (
            SELECT l.l_partkey, l.l_suppkey,
                CAST(round(l.l_quantity * 100) AS BIGINT) AS q
            FROM lineitem l
            JOIN part p ON l.l_partkey = p.p_partkey
            WHERE p.p_name LIKE 'red%'
              AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
              AND CAST(l.l_shipdate AS DATE) < DATE '1997-01-01'),
        pair AS (
            SELECT l_partkey, l_suppkey, sum(q) AS sq
            FROM li GROUP BY 1, 2),
        tot AS (SELECT l_partkey, sum(sq) AS t FROM pair GROUP BY 1),
        dom AS (
            SELECT DISTINCT l_suppkey
            FROM pair JOIN tot USING (l_partkey)
            WHERE CAST(sq AS HUGEINT) * 2 > t)
        SELECT s.s_suppkey, s.s_name
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_3'
          AND s.s_suppkey IN (SELECT l_suppkey FROM dom)
        ORDER BY s.s_name, s.s_suppkey"""

    # Q4: EXISTS as a semi-join; problem lineitem := returnflag='R'
    # (documented stand-in — see operators/tpch.py:q4_order_priority).
    sql["tpch_q4"] = """
        SELECT o_orderpriority,
            CAST(count(*) AS BIGINT) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= DATE '1996-01-01'
          AND o.o_orderdate < DATE '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'R')
        GROUP BY 1 ORDER BY 1"""

    # Q12: mode := line-number stand-in mapping, problem :=
    # returnflag='R', year window on l_shipdate (documented deltas —
    # see operators/tpch.py:q12_shipping_modes).
    sql["tpch_q12"] = """
        SELECT CASE l_linenumber WHEN 1 THEN 'MAIL'
                                 WHEN 2 THEN 'SHIP' END AS l_shipmode,
            CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
            CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_returnflag = 'R'
          AND year(l.l_shipdate) = 1996
          AND l.l_linenumber IN (1, 2)
        GROUP BY 1 ORDER BY 1"""

    # Q21: EXISTS/NOT-EXISTS chain as one order-grain aggregation.
    sql["tpch_q21"] = """
        WITH li AS (
            SELECT l.l_orderkey, l.l_suppkey, l.l_returnflag
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'),
        po AS (
            SELECT l_orderkey,
                count(DISTINCT l_suppkey) AS ns,
                count(DISTINCT CASE WHEN l_returnflag = 'R'
                               THEN l_suppkey END) AS nf,
                max(CASE WHEN l_returnflag = 'R'
                    THEN l_suppkey END) AS fk
            FROM li GROUP BY 1),
        w AS (
            SELECT fk AS s_suppkey, count(*) AS numwait
            FROM po WHERE ns > 1 AND nf = 1 GROUP BY 1)
        SELECT s.s_name, CAST(w.numwait AS BIGINT) AS numwait
        FROM w JOIN supplier s USING (s_suppkey)
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE n.n_name = 'NATION_1'
        ORDER BY numwait DESC, s.s_name
        LIMIT 100"""

    # YoY monthly revenue: calendar equi-join, not row lag.
    sql["orders_yoy"] = """
        WITH per AS (
            SELECT date_trunc('month', o_orderdate) AS period,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS value_cents
            FROM orders GROUP BY 1)
        SELECT c.period, c.value_cents,
            p.value_cents AS prior_cents,
            CASE WHEN p.value_cents > 0 THEN
                CAST((CAST(1000000 AS HUGEINT)
                      * (c.value_cents - p.value_cents))
                     // p.value_cents AS BIGINT)
            END AS delta_ppm
        FROM per c
        LEFT JOIN per p
            ON c.period = p.period + INTERVAL 12 MONTH"""

    # Percent-of-parent: nation share of region revenue, exact ppm.
    sql["nation_share"] = """
        WITH grain AS (
            SELECT r.r_name, n.n_name,
                CAST(sum(CAST(round(l.l_extendedprice * 100)
                              AS BIGINT)) AS BIGINT) AS value_cents
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY 1, 2)
        SELECT r_name, n_name, value_cents,
            CAST(sum(value_cents) OVER (PARTITION BY r_name)
                 AS BIGINT) AS parent_cents,
            CASE WHEN sum(value_cents) OVER (PARTITION BY r_name) > 0
            THEN CAST((CAST(1000000 AS HUGEINT) * value_cents)
                      // sum(value_cents) OVER (PARTITION BY r_name)
                      AS BIGINT)
            END AS share_ppm
        FROM grain"""

    # Per-group top-N with full deterministic tiebreak.
    sql["topn_customers_nation"] = """
        WITH per AS (
            SELECT n.n_name, c.c_custkey,
                CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                     AS BIGINT) AS revenue_cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1, 2),
        ranked AS (
            SELECT *, CAST(row_number() OVER (
                PARTITION BY n_name
                ORDER BY revenue_cents DESC, c_custkey ASC)
                AS BIGINT) AS rank
            FROM per)
        SELECT n_name, c_custkey, revenue_cents, rank
        FROM ranked WHERE rank <= 3"""

    # One-way ANOVA / Brown–Forsythe: replay the exact integer recipe
    # of stats._anova_from_moments — HUGEINT `//` == the Spark side's
    # _fdiv decimal floor division on non-negative operands.
    _ANOVA_TAIL = """
        tot AS (
            SELECT count(*) AS k, sum(n_g) AS n, sum(s_g) AS s,
                sum(q_g) AS q, sum((s_g * s_g * 1000) // n_g) AS a
            FROM g),
        ss AS (
            SELECT k, n, q, a,
                greatest(CAST(0 AS HUGEINT),
                         a - (s * s * 1000) // n) AS ssb,
                greatest(CAST(0 AS HUGEINT), q * 1000 - a) AS ssw,
                greatest(CAST(0 AS HUGEINT),
                         q * 1000 - (s * s * 1000) // n) AS sst
            FROM tot)
        SELECT CAST(k AS BIGINT) AS n_groups,
            CAST(n AS BIGINT) AS n_rows,
            CAST(CASE WHEN ssw > 0 AND k > 1
                 THEN (ssb * (n - k) * 1000000) // (ssw * (k - 1))
                 END AS BIGINT) AS f_ppm,
            CAST(CASE WHEN sst > 0 THEN (ssb * 1000000) // sst
                 END AS BIGINT) AS eta2_ppm
        FROM ss"""

    sql["orders_anova"] = """
        WITH g AS (
            SELECT o_orderpriority AS g,
                CAST(count(*) AS HUGEINT) AS n_g,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     AS HUGEINT) AS s_g,
                sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                         AS HUGEINT)
                    * CAST(round(o_totalprice * 100) AS BIGINT)) AS q_g
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_orderpriority IS NOT NULL
            GROUP BY 1),""" + _ANOVA_TAIL

    sql["orders_bf"] = """
        WITH base AS (
            SELECT o_orderpriority AS grp,
                CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_orderpriority IS NOT NULL),
        ranked AS (
            SELECT grp, v,
                row_number() OVER (PARTITION BY grp ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY grp) AS ng
            FROM base),
        med AS (
            SELECT grp,
                min(CASE WHEN rn >= (ng + 1) // 2 THEN v END) AS med
            FROM ranked GROUP BY grp),
        z AS (
            SELECT base.grp, CAST(abs(v - med) AS HUGEINT) AS z
            FROM base
            JOIN med ON base.grp IS NOT DISTINCT FROM med.grp),
        g AS (
            SELECT grp, CAST(count(*) AS HUGEINT) AS n_g,
                sum(z) AS s_g, sum(z * z) AS q_g
            FROM z GROUP BY grp),""" + _ANOVA_TAIL

    sql["orders_kruskal"] = """
        WITH base AS (
            SELECT o_orderpriority AS grp,
                CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_orderpriority IS NOT NULL),
        hist AS (
            SELECT v, CAST(count(*) AS HUGEINT) AS cnt
            FROM base GROUP BY v),
        cum AS (
            SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum
            FROM hist),
        vals AS (SELECT v, 2 * cum - cnt + 1 AS r2 FROM cum),
        ties AS (
            SELECT sum(cnt * cnt * cnt - cnt) AS t, sum(cnt) AS n
            FROM hist),
        gv AS (
            SELECT grp, v, CAST(count(*) AS HUGEINT) AS c
            FROM base GROUP BY grp, v),
        per_g AS (
            SELECT grp, sum(c) AS ng, sum(c * r2) AS r2g
            FROM gv JOIN vals USING (v) GROUP BY grp),
        tot AS (
            SELECT count(*) AS k,
                sum((r2g * r2g * 1000000)
                    // (CAST(4 AS HUGEINT) * ng)) AS a
            FROM per_g),
        b AS (
            SELECT k, a, t, n,
                greatest(CAST(0 AS HUGEINT),
                         (12 * a) // (n * (n + 1))
                         - 3 * (n + 1) * 1000000) AS bb
            FROM tot CROSS JOIN ties)
        SELECT CAST(k AS BIGINT) AS n_groups,
            CAST(n AS BIGINT) AS n_rows,
            CAST(t AS BIGINT) AS tie_term,
            CAST(CASE WHEN n * n * n - n - t > 0
                 THEN (bb * (n * n * n - n)) // (n * n * n - n - t)
                 END AS BIGINT) AS h_ppm
        FROM b"""

    sql["window_dist"] = """
            SELECT CAST(c_nationkey AS BIGINT) AS nation_key,
                CAST(c_custkey AS BIGINT) AS cust_key,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank,
                cume_dist() OVER w AS cume_dist
            FROM customer
            WINDOW w AS (PARTITION BY c_nationkey
                         ORDER BY CAST(round(c_acctbal * 100) AS BIGINT),
                                  c_custkey)"""

    sql["region_listagg"] = """
            SELECT r_name,
                string_agg(n_name, ',' ORDER BY n_name) AS nations,
                count(*) AS n_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name"""

    sql["events_entropy"] = """
            WITH cnt AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS c
                FROM events WHERE event_type IS NOT NULL GROUP BY 1),
            tot AS (
                SELECT CAST(count(*) AS BIGINT) AS n_categories,
                    CAST(sum(c) AS BIGINT) AS n_rows,
                    list_sort(list(c)) AS cs
                FROM cnt)
            SELECT n_categories, n_rows,
                CASE WHEN n_rows > 0 THEN
                    ln(n_rows) - list_reduce(
                        list_prepend(CAST(0.0 AS DOUBLE),
                            [CAST(c AS DOUBLE) * ln(c) FOR c IN cs]),
                        (acc, x) -> acc + x) / n_rows
                END AS entropy_nats
            FROM tot"""

    sql["lineitem_ratio_ci"] = """
            WITH g AS (
                SELECT l_returnflag,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                         AS HUGEINT) AS sx,
                    CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                         AS HUGEINT) AS sy,
                    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                             AS HUGEINT)
                        * CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS sxx,
                    sum(CAST(CAST(round(l_quantity * 100) AS BIGINT)
                             AS HUGEINT)
                        * CAST(round(l_quantity * 100) AS BIGINT)) AS syy,
                    sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                             AS HUGEINT)
                        * CAST(round(l_quantity * 100) AS BIGINT)) AS sxy
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND l_quantity IS NOT NULL
                GROUP BY 1)
            SELECT l_returnflag, n,
                CASE WHEN sy <> 0
                     THEN CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE)
                END AS ratio,
                CASE WHEN sy <> 0 AND n > 1 THEN
                    CAST(n AS DOUBLE)/(n-1) * (CAST(sxx AS DOUBLE)
                    - 2*(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                        *CAST(sxy AS DOUBLE)
                    + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                      *(CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                      *CAST(syy AS DOUBLE))
                    / (CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))
                END AS var_ratio
            FROM g"""

    _BOOT_TH = (424136118829305344, 848272237658610688,
                1060340297073263360, 1131029650211480960,
                1148701988496035328, 1152236456152946176,
                1152825534095764608, 1152909688087595776)
    _BOOT_W = " + ".join(
        f"CAST(u >= {t} AS BIGINT)" for t in _BOOT_TH)
    sql["orders_bootstrap"] = f"""
            WITH base AS (
                SELECT o_orderpriority AS g, o_orderkey AS id,
                    CAST(round(o_totalprice * 100) AS BIGINT) AS x
                FROM orders WHERE o_totalprice IS NOT NULL),
            rep AS (
                SELECT g, id, x,
                    unnest(generate_series(0, 63)) AS b
                FROM base),
            hashed AS (
                SELECT g, b, x,
                    CAST(concat('0x', substr(md5(concat('boot:',
                        CAST(b AS VARCHAR), ':', CAST(id AS VARCHAR))),
                        1, 15)) AS BIGINT) AS u
                FROM rep),
            wt AS (SELECT g, b, x, {_BOOT_W} AS w FROM hashed),
            perb AS (
                SELECT g, b, sum(CAST(w AS HUGEINT) * x) AS swx,
                    CAST(sum(w) AS BIGINT) AS sw
                FROM wt GROUP BY g, b),
            means AS (
                SELECT g, b, CAST(swx AS DOUBLE) / sw AS m
                FROM perb WHERE sw > 0),
            ranked AS (
                SELECT g, m,
                    row_number() OVER (PARTITION BY g ORDER BY m, b)
                        AS rn,
                    count(*) OVER (PARTITION BY g) AS nb
                FROM means),
            ci AS (
                SELECT g, CAST(max(nb) AS BIGINT) AS n_reps,
                    min(CASE WHEN rn = 2 THEN m END) AS ci_lo,
                    min(CASE WHEN rn = nb - 1 THEN m END) AS ci_hi
                FROM ranked GROUP BY g),
            point AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n,
                    CAST(CAST(sum(CAST(x AS HUGEINT)) AS DOUBLE)
                         / count(*) AS DOUBLE) AS mean_cents
                FROM base GROUP BY g)
            SELECT point.g AS o_orderpriority, n, mean_cents,
                n_reps, ci_lo, ci_hi
            FROM point JOIN ci ON point.g = ci.g"""

    sql["events_binseg"] = """
        WITH b AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     AS HUGEINT) AS s
            FROM events WHERE value IS NOT NULL GROUP BY 1),
        cum AS (
            SELECT d, s, row_number() OVER (ORDER BY d) AS i,
                sum(s) OVER (ORDER BY d) AS cs
            FROM b),
        tot AS (SELECT max(i) AS n, sum(s) AS st FROM cum),
        cand AS (
            SELECT d, i, cs, t.n AS n, t.st AS st,
                (cs * cs * 1000) // i
                + ((t.st - cs) * (t.st - cs) * 1000) // (t.n - i) AS g
            FROM cum, tot t WHERE i < t.n),
        best AS (SELECT * FROM cand ORDER BY g DESC, d ASC LIMIT 1)
        SELECT strftime(d, '%Y-%m-%d') AS split_day,
            CAST(i AS BIGINT) AS n_left,
            CAST(n AS BIGINT) AS n_days,
            CAST(cs AS DOUBLE) / i AS mean_left_cents,
            CAST(st - cs AS DOUBLE) / (n - i) AS mean_right_cents,
            CAST(g - (st * st * 1000) // n AS BIGINT) AS gain_scaled
        FROM best"""

    sql["orders_welch"] = """
        WITH g AS (
            SELECT
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END) AS HUGEINT) AS n1,
                CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN CAST(round(o_totalprice*100) AS BIGINT)
                         ELSE 0 END) AS HUGEINT) AS s1,
                sum(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN CAST(CAST(round(o_totalprice*100) AS BIGINT)
                              AS HUGEINT)
                         * CAST(round(o_totalprice*100) AS BIGINT)
                    ELSE 0 END) AS q1,
                CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                         THEN 1 ELSE 0 END) AS HUGEINT) AS n2,
                CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
                         THEN CAST(round(o_totalprice*100) AS BIGINT)
                         ELSE 0 END) AS HUGEINT) AS s2,
                sum(CASE WHEN o_orderpriority = '5-LOW'
                    THEN CAST(CAST(round(o_totalprice*100) AS BIGINT)
                              AS HUGEINT)
                         * CAST(round(o_totalprice*100) AS BIGINT)
                    ELSE 0 END) AS q2
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
              AND o_totalprice IS NOT NULL),
        staged AS (
            SELECT n1, n2,
                ((n1*q1 - s1*s1)*1000000) // (n1*n1*(n1-1)) AS d1,
                ((n2*q2 - s2*s2)*1000000) // (n2*n2*(n2-1)) AS d2,
                (((s1*n2 - s2*n1)*(s1*n2 - s2*n1))
                    // ((n1*n2)*(n1*n2))) * 1000000 AS ns
            FROM g WHERE n1 > 1 AND n2 > 1)
        SELECT CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
            CAST(CASE WHEN d1 + d2 > 0
                 THEN (ns*1000000) // (d1+d2) END AS BIGINT)
                AS t2_ppm,
            CAST(CASE WHEN d1 + d2 > 0
                      AND (d1*d1 // (n1-1) + d2*d2 // (n2-1)) > 0
                 THEN ((d1+d2)*(d1+d2)*1000)
                      // (d1*d1 // (n1-1) + d2*d2 // (n2-1))
                 END AS BIGINT) AS nu_milli
        FROM staged"""

    sql["doc_zipf"] = r"""
        WITH t AS (
            SELECT unnest(CASE WHEN trim(lower(text)) = '' THEN []
                ELSE string_split_regex(trim(lower(text)), '\s+')
                END) AS v
            FROM documents),
        tt AS MATERIALIZED (SELECT v FROM t WHERE v <> ''),
        c AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
              FROM tt GROUP BY 1),
        top AS (
            SELECT v, cnt,
                row_number() OVER (ORDER BY cnt DESC, v) AS r
            FROM c QUALIFY r <= 100),
        -- rank-ordered ln lists; every OLS sum is a SEQUENTIAL
        -- list_reduce fold (matches Spark's aggregate() fold order;
        -- a window sum would use DuckDB's segment tree instead)
        arrs AS (
            SELECT CAST(count(*) AS BIGINT) AS k_terms,
                list(ln(r) ORDER BY r) AS xs,
                list(ln(cnt) ORDER BY r) AS ys,
                list(ln(r) * ln(r) ORDER BY r) AS xxs,
                list(ln(r) * ln(cnt) ORDER BY r) AS xys,
                list(ln(cnt) * ln(cnt) ORDER BY r) AS yys
            FROM top),
        sums AS (
            SELECT k_terms,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs),
                            (a, b) -> a + b) AS sx,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ys),
                            (a, b) -> a + b) AS sy,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xxs),
                            (a, b) -> a + b) AS sxx,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xys),
                            (a, b) -> a + b) AS sxy,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE), yys),
                            (a, b) -> a + b) AS syy
            FROM arrs)
        SELECT k_terms,
            (k_terms*sxy - sx*sy)/(k_terms*sxx - sx*sx) AS slope,
            ((k_terms*sxy - sx*sy)*(k_terms*sxy - sx*sy))
                /((k_terms*sxx - sx*sx)*(k_terms*syy - sy*sy)) AS r2
        FROM sums"""

    sql["orders_hill"] = """
        WITH top AS (
            SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x,
                o_orderkey AS id
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND round(o_totalprice * 100) > 0
            ORDER BY x DESC, id ASC LIMIT 200),
        ranked AS (
            SELECT x, ln(x) AS lnx,
                row_number() OVER (ORDER BY x DESC, id ASC) AS r
            FROM top),
        arr AS (
            SELECT CAST(count(*) AS BIGINT) AS n_top,
                CAST(min(x) AS BIGINT) AS x_k_cents,
                list(lnx ORDER BY r) AS lnxs
            FROM ranked)
        SELECT n_top, x_k_cents,
            (list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lnxs),
                         (a, b) -> a + b) - ln(x_k_cents))
                / (n_top - 1) - ln(x_k_cents) AS inv_alpha,
            CASE WHEN list_reduce(
                    list_prepend(CAST(0.0 AS DOUBLE), lnxs),
                    (a, b) -> a + b)
                - ln(x_k_cents) - (n_top - 1) * ln(x_k_cents) <> 0.0
            THEN (n_top - 1)
                / (list_reduce(list_prepend(CAST(0.0 AS DOUBLE), lnxs),
                               (a, b) -> a + b)
                   - ln(x_k_cents) - (n_top - 1) * ln(x_k_cents))
            END AS alpha
        FROM arr WHERE n_top > 1"""

    sql["part_assortativity"] = """
        WITH baskets AS MATERIALIZED (
            SELECT DISTINCT l_orderkey AS b, l_partkey AS i
            FROM lineitem),
        edges AS MATERIALIZED (
            SELECT l.i AS a, r.i AS b
            FROM baskets l JOIN baskets r ON l.b = r.b AND l.i < r.i
            GROUP BY 1, 2 HAVING count(*) >= 2),
        und AS (
            SELECT a AS u, b AS v FROM edges
            UNION ALL SELECT b AS u, a AS v FROM edges),
        deg AS (SELECT u, CAST(count(*) AS HUGEINT) AS d
                FROM und GROUP BY u),
        ed AS (
            SELECT du.d AS x, dv.d AS y
            FROM und JOIN deg du ON und.u = du.u
            JOIN deg dv ON und.v = dv.u),
        m AS (
            SELECT CAST(count(*) AS HUGEINT) AS m, sum(x) AS sx,
                sum(x * y) AS sxy, sum(x * x) AS sxx
            FROM ed)
        SELECT CAST(m AS BIGINT) AS m_directed,
            CAST(CASE WHEN m*sxx - sx*sx > 0 THEN
                 CASE WHEN m*sxy - sx*sx >= 0
                 THEN ((m*sxy - sx*sx)*1000000) // (m*sxx - sx*sx)
                 ELSE -(((sx*sx - m*sxy)*1000000) // (m*sxx - sx*sx))
                 END END AS BIGINT) AS r_ppm
        FROM m"""

    sql["events_peakrate"] = """
        WITH sec AS (
            SELECT event_type,
                CAST(floor(epoch(ts)) AS BIGINT) AS s,
                CAST(sum(CAST(round(value * 100) AS BIGINT))
                     AS BIGINT) AS v
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2),
        rated AS (
            SELECT event_type, s,
                CAST(sum(v) OVER (PARTITION BY event_type ORDER BY s
                     RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS rate
            FROM sec),
        mx AS (
            SELECT event_type, rate, s,
                max(rate) OVER (PARTITION BY event_type) AS m
            FROM rated)
        SELECT event_type,
            CAST(max(rate) AS BIGINT) AS peak_window_cents,
            CAST(min(CASE WHEN rate = m THEN s END) AS BIGINT)
                AS peak_at_epoch
        FROM mx GROUP BY event_type"""

    sql["orders_qq"] = """
        WITH base AS (
            SELECT o_orderpriority = '1-URGENT' AS ua,
                CAST(round(o_totalprice * 100) AS BIGINT) AS v
            FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        ranked AS (
            SELECT ua, v,
                row_number() OVER (PARTITION BY ua ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY ua) AS n
            FROM base),
        d AS (SELECT unnest(generate_series(1, 9)) AS decile)
        SELECT CAST(decile AS INT) AS decile,
            CAST(min(CASE WHEN ua THEN v END) AS BIGINT)
                AS urgent_cents,
            CAST(min(CASE WHEN NOT ua THEN v END) AS BIGINT)
                AS low_cents
        FROM ranked JOIN d ON rn >= (decile * n + 9) // 10
        GROUP BY decile"""

    # MinHash-LSH recall bridge: exact ground truth from the shingle
    # inverted index (no all-pairs), candidates from the same banded
    # CTE the doc_minhash entry replays, both on the doc_id<500 subset
    sql["doc_minhash_recall"] = f"""
        {_minhash_cte()},
        sub AS (SELECT doc_id, shingles FROM sh WHERE doc_id < 500),
        sizes AS (SELECT doc_id, len(shingles) AS n FROM sub),
        posting AS (
            SELECT doc_id, unnest(shingles) AS s FROM sub),
        common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(count(*) AS BIGINT) AS c
            FROM posting a JOIN posting b
                ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        truth AS (
            SELECT id_a, id_b
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE 3 * c >= 1 * (sa.n + sb.n)),
        cand AS (
            SELECT id_a, id_b FROM pairs
            WHERE id_a < 500 AND id_b < 500),
        hit AS (SELECT t.id_a, t.id_b
                FROM truth t JOIN cand c USING (id_a, id_b)),
        agg AS (
            SELECT (SELECT count(*) FROM truth) AS n_true,
                   (SELECT count(*) FROM cand) AS n_cand,
                   (SELECT count(*) FROM hit) AS n_hit)
        SELECT CAST(n_true AS BIGINT) AS n_true,
            CAST(n_cand AS BIGINT) AS n_cand,
            CAST(n_hit AS BIGINT) AS n_hit,
            CAST(CASE WHEN n_true > 0
                 THEN (10000 * n_hit) // n_true END AS BIGINT)
                AS recall_bp,
            CAST(CASE WHEN n_cand > 0
                 THEN (10000 * n_hit) // n_cand END AS BIGINT)
                AS precision_bp
        FROM agg"""

    sql["emb_mmr"] = _emb_mmr_oracle()
    sql["doc_cluster_terms"] = _guarded_oracle(
        _doc_cluster_terms_oracle, "doc_cluster_terms")
    sql["doc_rag_topk"] = _guarded_oracle(
        _doc_rag_oracle, "doc_rag_topk")
    sql["emb_hard_negatives"] = _guarded_oracle(
        _emb_hardneg_oracle, "emb_hard_negatives")
    sql["emb_mmr_ann"] = _guarded_oracle(
        lambda: _emb_mmr_oracle(ann=True), "emb_mmr_ann")
    sql["emb_mmr_ann_recall"] = _guarded_oracle(
        lambda: f"""
        WITH bf AS ({_emb_mmr_oracle()}),
        ann AS ({_emb_mmr_oracle(ann=True)}),
        marked AS (
            SELECT bf.query_id, bf.vec_id,
                CASE WHEN ann.vec_id IS NOT NULL THEN 1 ELSE 0 END
                    AS hit
            FROM bf LEFT JOIN ann
              ON ann.query_id = bf.query_id
             AND ann.vec_id = bf.vec_id)
        SELECT CAST(count(*) AS BIGINT) AS n_exact,
            CAST(sum(hit) AS BIGINT) AS n_hit,
            CAST(sum(hit) * 10000 // count(*) AS BIGINT) AS overlap_bp
        FROM marked""", "emb_mmr_ann_recall")

    # Kimball bridge-table weighted aggregation: replay the in-plan
    # bridge (1-3 campaign memberships per order, equal bp split with
    # the remainder on the first membership) and the all-integer
    # cents x bp allocation
    sql["bridge_campaign"] = """
        WITH m AS (
            SELECT o_orderkey,
                1 + (o_orderkey % 3) AS n,
                unnest(range(0, CAST(1 + (o_orderkey % 3) AS BIGINT)))
                    AS i
            FROM orders),
        bridge AS (
            SELECT o_orderkey,
                'C' || CAST(((o_orderkey * 7 + i) % 5) + 1 AS VARCHAR)
                    AS campaign,
                10000 // n
                    + CASE WHEN i = 0 THEN 10000 % n ELSE 0 END
                    AS weight_bp
            FROM m),
        f AS (
            SELECT o_orderkey,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders)
        SELECT campaign,
            CAST(sum(cents * weight_bp) // 10000 AS BIGINT)
                AS alloc_cents,
            CAST(sum(cents) AS BIGINT) AS raw_cents,
            CAST(count(*) AS BIGINT) AS fact_cnt
        FROM f JOIN bridge USING (o_orderkey)
        GROUP BY campaign"""

    # Unpivot: the wide CTE unioned per measure column
    sql["orders_melt"] = """
        WITH w AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
                CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END)
                     AS BIGINT) AS status_o,
                CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                     AS BIGINT) AS status_f,
                CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END)
                     AS BIGINT) AS status_p
            FROM orders GROUP BY 1)
        SELECT year, 'status_o' AS variable, status_o AS value FROM w
        UNION ALL
        SELECT year, 'status_f', status_f FROM w
        UNION ALL
        SELECT year, 'status_p', status_p FROM w"""

    # URL canonicalization: replay the in-plan construction and every
    # rule of canonicalize_urls generically (not closed-form)
    sql["doc_urls"] = """
        WITH d AS (
            SELECT doc_id,
                CASE WHEN doc_id % 4 = 0 THEN
                        'HTTP://Example' || CAST(doc_id % 7 AS VARCHAR)
                        || '.COM:80/path/' || CAST(doc_id % 97 AS VARCHAR)
                        || '?utm_source=x&id='
                        || CAST(doc_id % 13 AS VARCHAR) || '#frag'
                     WHEN doc_id % 4 = 1 THEN
                        'https://cdn' || CAST(doc_id % 5 AS VARCHAR)
                        || '.Example.org:443/?gclid=abc'
                        || CAST(doc_id % 9 AS VARCHAR)
                     WHEN doc_id % 4 = 2 THEN
                        'http://example' || CAST(doc_id % 7 AS VARCHAR)
                        || '.com/path/' || CAST(doc_id % 97 AS VARCHAR)
                        || '?id=' || CAST(doc_id % 13 AS VARCHAR)
                        || '&utm_medium=mail'
                     ELSE 'not a url ' || CAST(doc_id AS VARCHAR)
                END AS url
            FROM documents),
        parts AS (
            SELECT doc_id, url,
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                lower(regexp_extract(url,
                    '^[^:/?#]+://([^/?#]*)', 1)) AS host0,
                regexp_extract(url,
                    '^[^:/?#]+://[^/?#]*([^#]*)', 1) AS rest
            FROM d),
        norm AS (
            SELECT doc_id, scheme,
                CASE WHEN scheme = 'http'
                     THEN regexp_replace(host0, ':80$', '')
                     WHEN scheme = 'https'
                     THEN regexp_replace(host0, ':443$', '')
                     ELSE host0 END AS host,
                CASE WHEN instr(rest, '?') > 0
                     THEN substr(rest, 1, instr(rest, '?') - 1)
                     ELSE rest END AS path0,
                regexp_extract(rest, '\\?(.*)$', 1) AS rq
            FROM parts),
        filt AS (
            SELECT doc_id, scheme, host,
                CASE WHEN path0 = '/' THEN '' ELSE path0 END AS path,
                CASE WHEN rq = '' THEN []
                     ELSE list_filter(str_split(rq, '&'), p ->
                        NOT (starts_with(p, 'utm_')
                             OR starts_with(p, 'gclid=') OR p = 'gclid'
                             OR starts_with(p, 'fbclid=') OR p = 'fbclid'
                             OR starts_with(p, 'msclkid=')
                             OR p = 'msclkid'
                             OR starts_with(p, 'ref=') OR p = 'ref'))
                END AS kept
            FROM norm)
        SELECT doc_id,
            CASE WHEN scheme = '' THEN NULL
                 ELSE scheme || '://' || host || path
                      || CASE WHEN coalesce(
                                array_to_string(kept, '&'), '') = ''
                              THEN ''
                              ELSE '?' || array_to_string(kept, '&')
                         END
            END AS canonical_url,
            CASE WHEN scheme = '' THEN NULL ELSE host END AS host,
            CAST(len(kept) AS BIGINT) AS n_params_kept
        FROM filt"""

    # bytes-balanced sharding: the cumulative layout as a window
    sql["doc_shard_bytes"] = """
        WITH laid AS (
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                CAST(coalesce(sum(n_chars) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS start_byte
            FROM documents)
        SELECT doc_id, n_chars, start_byte,
            CAST(start_byte // 50000 AS BIGINT) AS shard_id
        FROM laid"""

    # daily new-user curve: first-occurrence collapse + day-grain
    # cumulative sum
    sql["events_new_users"] = """
        WITH f AS (
            SELECT user_id, min(date_trunc('hour', ts)) AS h
            FROM events GROUP BY 1),
        hourly AS (
            SELECT strftime(h, '%Y-%m-%d %H') AS hour,
                CAST(count(*) AS BIGINT) AS n_new
            FROM f GROUP BY 1)
        SELECT hour, n_new,
            CAST(sum(n_new) OVER (ORDER BY hour
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        FROM hourly"""

    # SCD1 upsert: the max-struct winner replayed as a window sort
    # over the same lexicographic field order (ts, src, payload)
    sql["customer_upsert"] = """
        WITH od AS (
            SELECT o_custkey, o_orderdate AS ts,
                o_orderstatus AS status,
                CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
                     THEN 1 ELSE 0 END AS src
            FROM orders)
        SELECT o_custkey, ts, status, cents
        FROM (
            SELECT o_custkey, ts, status, cents,
                row_number() OVER (PARTITION BY o_custkey
                    ORDER BY ts DESC, src DESC, status DESC,
                             cents DESC) AS rn
            FROM od)
        WHERE rn = 1"""

    # factless coverage gaps: grid minus observed, anti-join
    sql["orders_coverage"] = """
        WITH months AS (
            SELECT unnest(generate_series(DATE '1992-01-01',
                DATE '1998-12-01', INTERVAL 1 MONTH)) AS m),
        grid AS (
            SELECT n_name, strftime(m, '%Y-%m') AS ym
            FROM nation, months),
        obs AS (
            SELECT DISTINCT n.n_name,
                strftime(o.o_orderdate, '%Y-%m') AS ym
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey)
        SELECT g.n_name, g.ym
        FROM grid g ANTI JOIN obs
            ON g.n_name = obs.n_name AND g.ym = obs.ym"""

    # weighted quantiles: grain collapse + cumulative window + the
    # same integer cross-multiplied threshold
    sql["lineitem_wquantiles"] = """
        WITH grain AS (
            SELECT l_returnflag AS flag,
                CAST(round(l_discount * 100) AS BIGINT) AS v,
                SUM(CAST(l_quantity AS BIGINT)) AS w
            FROM lineitem GROUP BY 1, 2),
        cum AS (
            SELECT flag, v,
                sum(w) OVER (PARTITION BY flag ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS cw,
                sum(w) OVER (PARTITION BY flag) AS tw
            FROM grain),
        q(q_bp) AS (VALUES (2500), (5000), (7500))
        SELECT flag, q_bp, CAST(min(v) AS BIGINT) AS value
        FROM cum JOIN q ON cw * 10000 >= q_bp * tw
        GROUP BY flag, q_bp"""

    # intra-document line dedup: replay the construction and the
    # first-occurrence filter (DuckDB indexed list lambda, 1-based)
    sql["doc_line_dedup_intra"] = """
        WITH d AS (
            SELECT doc_id,
                replace(text, '. ', '.' || chr(10)) AS base
            FROM documents),
        d2 AS (
            SELECT doc_id,
                CASE WHEN doc_id % 3 = 0
                     THEN base || chr(10)
                          || str_split(base, chr(10))[1] || chr(10)
                          || str_split(base, chr(10))[1]
                     ELSE base END AS text
            FROM d),
        l AS (
            SELECT doc_id, str_split(text, chr(10)) AS lines
            FROM d2),
        k AS (
            SELECT doc_id, lines,
                list_filter(lines, (x, i) ->
                    list_position(lines, x) = i) AS kept
            FROM l)
        SELECT doc_id,
            CAST(len(lines) AS BIGINT) AS n_lines,
            CAST(len(kept) AS BIGINT) AS n_unique_lines,
            md5(coalesce(array_to_string(kept, chr(10)), ''))
                AS clean_md5
        FROM k"""

    # ID3v2 triage: every field of the in-plan tags is closed-form
    # in doc_id; the absent TALB frame proves the NULL path
    sql["doc_id3"] = """
        SELECT doc_id,
            CAST(3 + doc_id % 2 AS BIGINT) AS version,
            CAST(2 AS BIGINT) AS n_frames,
            'Song' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                AS title,
            'A' || CAST(doc_id % 10 AS VARCHAR) AS artist,
            CAST(NULL AS VARCHAR) AS album
        FROM documents"""

    # Gopher quality rules: replay the salted page construction, the
    # counters and the integer cross-multiplied verdict
    sql["doc_gopher"] = """
        WITH d AS (
            SELECT doc_id,
                replace(text, '. ', '.' || chr(10))
                || (CASE WHEN doc_id % 19 = 0
                         THEN chr(10) || '- bullet item one'
                              || chr(10) || '- bullet item two'
                         ELSE '' END)
                || (CASE WHEN doc_id % 23 = 0
                         THEN chr(10) || 'to be continued...'
                         ELSE '' END)
                || (CASE WHEN doc_id % 29 = 0
                         THEN ' ### ### ###' ELSE '' END) AS text
            FROM documents),
        c AS (
            SELECT doc_id, text,
                CASE WHEN trim(text) = '' THEN []
                     ELSE string_split_regex(trim(text), '\\s+') END
                    AS t,
                str_split(text, chr(10)) AS lines
            FROM d),
        m AS (
            SELECT doc_id,
                CAST(len(t) AS BIGINT) AS n_words,
                CAST(coalesce(
                    list_sum(list_transform(t, x -> len(x))), 0)
                    AS BIGINT) AS word_chars,
                CAST((len(text) - len(replace(text, '#', '')))
                     + (len(text) - len(replace(text, '...', ''))) // 3
                    AS BIGINT) AS n_symbols,
                CAST(len(lines) AS BIGINT) AS n_lines,
                CAST(len(list_filter(lines,
                    l -> left(trim(l), 1) = chr(8226)
                         OR trim(l) LIKE '- %')) AS BIGINT)
                    AS bullet_lines,
                CAST(len(list_filter(lines,
                    l -> trim(l) LIKE '%...')) AS BIGINT)
                    AS ellipsis_lines,
                CAST(len(list_filter(t,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                    AS alpha_words,
                CAST(len(list_intersect(
                    list_distinct(list_transform(t, x -> lower(x))),
                    ['the', 'be', 'to', 'of', 'and', 'that', 'have',
                     'with'])) AS BIGINT) AS stop_hits
            FROM c)
        SELECT doc_id, n_words, word_chars, n_symbols, n_lines,
            bullet_lines, ellipsis_lines, alpha_words, stop_hits,
            (n_words >= 50 AND n_words <= 100000
             AND word_chars >= 3 * n_words
             AND word_chars <= 10 * n_words
             AND n_symbols * 10 <= n_words
             AND bullet_lines * 10 < n_lines * 9
             AND ellipsis_lines * 10 <= n_lines * 3
             AND alpha_words * 10 >= n_words * 8
             AND stop_hits >= 2) AS kept
        FROM m"""

    # EXIF triage: every field of the in-plan TIFF/JPEG-APP1 files is
    # closed-form in doc_id; the absent model tag proves the NULL
    # path; doc_id%3==0 rows carry a sub-IFD DateTimeOriginal
    # (taken_at), the rest fall back to IFD0 DateTime (modified_at)
    sql["doc_exif"] = """
        SELECT doc_id,
            CASE WHEN doc_id % 2 = 1 THEN 'jpeg' ELSE 'tiff' END
                AS container,
            'II' AS endian,
            CAST(16 + doc_id % 32 AS BIGINT) AS width,
            CAST(8 + doc_id % 16 AS BIGINT) AS height,
            CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
            'C' || CAST(doc_id % 10 AS VARCHAR) AS make,
            CAST(NULL AS VARCHAR) AS model,
            CASE WHEN doc_id % 3 = 0 THEN
                '2023:06:0' || CAST(1 + doc_id % 9 AS VARCHAR) || ' '
                    || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                    || ':30:00'
            ELSE
                '2024:01:0' || CAST(1 + doc_id % 9 AS VARCHAR) || ' '
                    || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                    || ':00:00'
            END AS taken_at,
            '2024:01:0' || CAST(1 + doc_id % 9 AS VARCHAR) || ' '
                || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                || ':00:00' AS modified_at
        FROM documents"""

    # C4 heuristic cleaning: replay the in-plan page construction,
    # the line filter lambda and the page verdict verbatim
    sql["doc_c4_filter"] = """
        WITH d AS (
            SELECT doc_id,
                (CASE WHEN doc_id % 23 = 0
                      THEN '{ config }' || chr(10) ELSE '' END)
                || replace(text, '. ', '.' || chr(10))
                || (CASE WHEN doc_id % 13 = 0
                         THEN chr(10) || 'tiny line' ELSE '' END)
                || (CASE WHEN doc_id % 17 = 0
                         THEN chr(10) || 'this page requires '
                              || 'javascript enabled to render '
                              || 'correctly.'
                         ELSE '' END) AS text
            FROM documents),
        l AS (
            SELECT doc_id, text,
                str_split(text, chr(10)) AS lines
            FROM d),
        k AS (
            SELECT doc_id, text, lines,
                list_filter(lines, x -> trim(x) <> ''
                    AND substr(trim(x), -1, 1)
                        IN ('.', '!', '?', '"')
                    AND len(string_split_regex(trim(x), '\\s+')) >= 5
                    AND NOT contains(lower(trim(x)), 'javascript'))
                    AS kept_l
            FROM l)
        SELECT doc_id,
            CAST(len(lines) AS BIGINT) AS n_lines,
            CAST(len(kept_l) AS BIGINT) AS n_kept,
            (len(kept_l) >= 3
             AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{')) AS kept,
            md5(coalesce(array_to_string(kept_l, chr(10)), ''))
                AS clean_md5
        FROM k"""

    # SCD2 point-in-time lookup: the BETWEEN-interval semantics the
    # as-of join replaces — LEFT JOIN on eff <= orderdate, latest
    # version wins (arg_max), unmatched early orders keep NULL
    sql["scd2_pit"] = """
        WITH v AS (
            SELECT c_custkey AS o_custkey,
                CAST(DATE '1992-01-01'
                     + ((c_custkey % 365) + vv * 730)
                       * INTERVAL 1 DAY AS TIMESTAMP) AS eff,
                CAST((c_custkey + vv) % 5 AS BIGINT) AS tier
            FROM customer,
                (SELECT unnest([0, 1, 2]) AS vv))
        SELECT o.o_orderkey, o.o_custkey,
            arg_max(v.tier, v.eff) AS tier
        FROM orders o
        LEFT JOIN v ON v.o_custkey = o.o_custkey
                   AND v.eff <= o.o_orderdate
        GROUP BY o.o_orderkey, o.o_custkey"""

    return sql


# -- deterministic-ANN oracle generation ------------------------------------

_EMB_TOPK_SQL = """
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_dot_product(CAST(q.embedding AS DOUBLE[]),
                             CAST(c.embedding AS DOUBLE[]))
            / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]),
                                     CAST(q.embedding AS DOUBLE[])))
             * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]),
                                     CAST(c.embedding AS DOUBLE[]))))
                AS cosine
        FROM embeddings q JOIN embeddings c
            ON q.vec_id % 50 = 0 AND q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id)
                AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
        CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5"""


_COSINE_RANKED = """
    scored AS (
        SELECT query_id, neighbor_id,
            list_dot_product(qv, cv)
            / (sqrt(list_dot_product(qv, qv))
             * sqrt(list_dot_product(cv, cv))) AS cosine
        FROM cand
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
        CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5"""


def _emb_dim() -> int:
    import duckdb

    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    return duckdb.sql(
        f"SELECT len(embedding) FROM read_parquet('{path}') LIMIT 1"
    ).fetchone()[0]


def _sql_dvec(row) -> str:
    """A DOUBLE[] literal; repr() round-trips binary64 exactly, so the
    parsed values equal the F.lit doubles in the Spark plan."""
    return "[" + ", ".join(repr(float(x)) for x in row) + "]::DOUBLE[]"


def _emb_ann_oracle() -> str:
    """Replicates ann_lsh_cosine(k=5, num_planes=8, num_tables=2,
    seed=42) exactly: same md5-derived hyperplanes (embedded as
    literals), same sign-bit bucket ids, same bucket equi-join candidate
    set, same exact-cosine rank."""
    from cubes_spark.llm.similarity import _plane_components

    dim = _emb_dim()
    rows = []
    for t in range(2):
        for p, prow in enumerate(_plane_components(8, dim, 42 + 7919 * t)):
            rows.append(f"({t}, {1 << p}, {_sql_dvec(prow)})")
    planes = ",\n            ".join(rows)
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    planes(tbl, w, pv) AS (VALUES
            {planes}),
    bucketed AS (
        SELECT e.vec_id, pl.tbl,
            SUM(CASE WHEN list_dot_product(e.v, pl.pv) > 0
                THEN pl.w ELSE 0 END) AS bucket
        FROM e CROSS JOIN planes pl
        GROUP BY e.vec_id, pl.tbl
    ),
    cand AS (
        SELECT DISTINCT p.query_id, p.neighbor_id, q.v AS qv, c.v AS cv
        FROM (
            SELECT l.vec_id AS query_id, r.vec_id AS neighbor_id
            FROM bucketed l
            JOIN bucketed r
              ON l.tbl = r.tbl AND l.bucket = r.bucket
             AND l.vec_id <> r.vec_id
        ) p
        JOIN e q ON q.vec_id = p.query_id
        JOIN e c ON c.vec_id = p.neighbor_id
    ),{_COSINE_RANKED}"""


def _emb_hardneg_oracle(k: int = 24, mod: int = 100,
                        lo: float = 0.22, hi: float = 0.35,
                        m: int = 4) -> str:
    """Replays q_emb_hard_negatives: ivf_topk's candidate generation
    (identical retrained centroids as literals, nprobe=4 cell join,
    UNROUNDED top-k ranking with id ties), then hard_negatives' band
    filter + re-rank on the ROUNDED pool cosines.  The entry mines
    over the AUTO-nlist IVF (bounded cells — linear total work; a
    pinned nlist made per-query probe work grow with the corpus,
    measured 31×/decade at sf1→sf10), so the oracle recomputes the
    same nlist from the same corpus count and retrains identically."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent(cluster, cv) AS (VALUES
            {_ivf_centroid_values(_auto_nlist_value())}),
    sims AS (
        SELECT e.vec_id, e.v, ct.cluster,
            list_dot_product(e.v, ct.cv) AS sim
        FROM e CROSS JOIN cent ct),
    cranked AS (
        SELECT vec_id, v, cluster,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cluster) AS crank
        FROM sims),
    assigned AS (
        SELECT vec_id AS nid, v AS nv, cluster
        FROM cranked WHERE crank = 1),
    probed AS (
        SELECT vec_id AS qid, v AS qv, cluster
        FROM cranked WHERE crank <= 4 AND vec_id % {mod} = 0),
    ivfranked AS MATERIALIZED (
        SELECT qid, nid,
            round(list_dot_product(qv, nv)
                  / (sqrt(list_dot_product(qv, qv))
                   * sqrt(list_dot_product(nv, nv))), 6) AS cosine,
            row_number() OVER (PARTITION BY qid ORDER BY
                list_dot_product(qv, nv)
                / (sqrt(list_dot_product(qv, qv))
                 * sqrt(list_dot_product(nv, nv))) DESC, nid) AS rk
        FROM probed JOIN assigned USING (cluster)
        WHERE qid <> nid),
    band AS (
        SELECT qid, nid, cosine
        FROM ivfranked
        WHERE rk <= {k} AND cosine >= {lo!r} AND cosine < {hi!r})
    SELECT qid AS query_id, nid AS neighbor_id, cosine,
        CAST(neg_rank AS BIGINT) AS neg_rank
    FROM (
        SELECT qid, nid, cosine,
            row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, nid) AS neg_rank
        FROM band)
    WHERE neg_rank <= {m}"""


_RAG_QUERIES = [
    (0, ["data", "quality", "and", "cleaning"]),
    (1, ["machine", "learning", "training", "data"]),
    (2, ["the", "weather", "in", "paris"]),
]


def _feat_unitv_cte(src: str, idc: str, prefix: str,
                    dim: int = 16) -> str:
    """The feature_hash_embed replay (same two md5 hashes, same fold,
    same norm guard) as a CTE chain producing {prefix}v(id, v)."""
    return f"""
    {prefix}contribs AS (
        SELECT {idc} AS id,
            list_transform(t, x -> struct_pack(
                c := CAST(concat('0x', substr(md5(concat('feat:',
                    x)), 1, 15)) AS BIGINT) % {dim},
                s := CASE WHEN CAST(concat('0x',
                    substr(md5(concat('feat#:', x)), 1, 8))
                    AS BIGINT) % 2 = 0
                    THEN 1.0 ELSE -1.0 END)) AS cs
        FROM {src}),
    {prefix}rawv AS (
        SELECT id,
            list_transform(range({dim}), d ->
                list_sum(list_transform(cs, e ->
                    CASE WHEN e.c = d THEN e.s ELSE 0.0 END)))
                AS raw
        FROM {prefix}contribs),
    {prefix}v AS (
        SELECT id,
            CASE WHEN sqrt(list_sum(list_transform(raw,
                     x -> x * x))) > 0
                 THEN list_transform(raw, x -> x
                      / sqrt(list_sum(list_transform(raw,
                            y -> y * y))))
                 ELSE raw END AS v
        FROM {prefix}rawv)"""


def _doc_rag_oracle(k: int = 5) -> str:
    qvals = ",\n            ".join(
        "({}, {})".format(qid, "[" + ", ".join(
            f"'{t}'" for t in toks) + "]")
        for qid, toks in _RAG_QUERIES)
    return f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
        WHERE length(trim(text)) > 0),
    qtoks(qid, t) AS (VALUES
            {qvals}),{_feat_unitv_cte("toks", "doc_id", "c")},{_feat_unitv_cte("qtoks", "qid", "q")},
    scored AS (
        SELECT q.id AS query_id, c.id AS neighbor_id,
            list_dot_product(q.v, c.v)
            / (sqrt(list_dot_product(q.v, q.v))
             * sqrt(list_dot_product(c.v, c.v))) AS cosine
        FROM qv q CROSS JOIN cv c)
    SELECT query_id, neighbor_id, round(cosine, 6) AS cosine,
        CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
            row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id)
                AS rank
        FROM scored)
    WHERE rank <= {k}"""


def _doc_cluster_terms_oracle(nlist: int = 4, topk: int = 3) -> str:
    """Replays q_doc_cluster_terms: unit vectors from the SQL hash
    fold, identical fixed-seed k-means retrained on the identical
    id-sorted sample, 1-based assignment with sim-desc/cluster ties,
    then the stopword-filtered per-cluster term ranking."""
    import duckdb
    import numpy as np

    from cubes_spark.llm.similarity import train_spherical_kmeans

    con = duckdb.connect()
    path = _oracle_sf_dir()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')")
    rows = con.execute(f"""
        WITH toks AS (
            SELECT doc_id, {_TOKENS} AS t FROM documents
            WHERE length(trim(text)) > 0),{_feat_unitv_cte("toks", "doc_id", "c")}
        SELECT id, v FROM cv ORDER BY id LIMIT 4096""").fetchall()
    con.close()
    X = np.array([r[1] for r in rows], dtype=np.float64)
    cent = train_spherical_kmeans(X, nlist, 42)
    values = ",\n            ".join(
        f"({i + 1}, {_sql_dvec(row)})" for i, row in enumerate(cent))
    stop = ", ".join(
        f"'{w}'" for w in ("the", "be", "to", "of", "and", "that",
                           "have", "with"))
    return f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS} AS t FROM documents
        WHERE length(trim(text)) > 0),{_feat_unitv_cte("toks", "doc_id", "c")},
    cent(cluster, cvv) AS (VALUES
            {values}),
    sims AS (
        SELECT cv.id, ct.cluster,
            list_dot_product(cv.v, ct.cvv) AS sim
        FROM cv CROSS JOIN cent ct),
    assigned AS (
        SELECT id AS doc_id, cluster FROM (
            SELECT id, cluster,
                row_number() OVER (PARTITION BY id
                                   ORDER BY sim DESC, cluster) AS rk
            FROM sims) WHERE rk = 1),
    words AS (
        SELECT doc_id, lower(tok) AS term
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        WHERE lower(tok) NOT IN ({stop})),
    counts AS (
        SELECT a.cluster, w.term, count(*) AS n
        FROM words w JOIN assigned a USING (doc_id)
        GROUP BY 1, 2)
    SELECT CAST(cluster AS BIGINT) AS cluster,
        CAST(rk AS BIGINT) AS term_rank, term,
        CAST(n AS BIGINT) AS n
    FROM (
        SELECT cluster, term, n,
            row_number() OVER (PARTITION BY cluster
                               ORDER BY n DESC, term) AS rk
        FROM counts) WHERE rk <= {topk}"""


def _ivf_centroid_values(nlist: int = 16) -> str:
    """Retrains ivf_topk's fixed-seed spherical k-means on the
    identical first-4096-by-id sample and renders the centroids as
    exact DOUBLE[] VALUES literals (shared by the IVF oracles)."""
    import duckdb
    import numpy as np

    from cubes_spark.llm.similarity import train_spherical_kmeans

    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    sample = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{path}') "
        "ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    X = np.array([r[0] for r in sample], dtype=np.float64)
    cent = train_spherical_kmeans(X, nlist, 42)
    return ",\n            ".join(
        f"({i + 1}, {_sql_dvec(row)})" for i, row in enumerate(cent)
    )


def _emb_ivf_oracle() -> str:
    """Replicates ivf_topk(k=5, nlist=16, nprobe=4, seed=42,
    sample_size=4096): retrains the identical fixed-seed spherical
    k-means on the identical sorted sample and embeds the centroids as
    literals; assignment = nearest centroid, probing = 4 nearest, ties
    by cluster id — exactly the Spark plan's array_sort semantics."""
    values = _ivf_centroid_values()
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent(cluster, cv) AS (VALUES
            {values}),
    sims AS (
        SELECT e.vec_id, e.v, c.cluster,
            list_dot_product(e.v, c.cv) AS sim
        FROM e CROSS JOIN cent c
    ),
    cranked AS (
        SELECT vec_id, v, cluster,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cluster) AS crank
        FROM sims
    ),
    assigned AS (
        SELECT vec_id AS neighbor_id, v AS nv, cluster
        FROM cranked WHERE crank = 1
    ),
    probed AS (
        SELECT vec_id AS query_id, v AS qv, cluster
        FROM cranked WHERE crank <= 4
    ),
    cand AS (
        SELECT query_id, neighbor_id, qv, nv AS cv
        FROM probed JOIN assigned USING (cluster)
        WHERE query_id <> neighbor_id
    ),{_COSINE_RANKED}"""


_QUALITY_FEATURES_SQL = """
    SELECT doc_id,
        round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0), 4)
            AS len_score,
        avg_token_len, punct_ratio, digit_ratio, stopword_ratio_en,
        CASE WHEN quality_score >= 0.5 THEN 1 ELSE 0 END AS label
    FROM derived
"""


def _guarded_oracle(builder, label):
    """Data-dependent oracle generation that cannot take the whole
    gate down: a generator failure (e.g. a scale dir missing the
    table it trains on) yields a marker that errors LOUDLY if that
    one oracle is actually used, while every other entry still
    verifies."""
    try:
        return builder()
    except Exception as exc:  # noqa: BLE001 — any generator failure
        return (f"ORACLE GENERATOR FAILED for {label}: "
                f"{type(exc).__name__}: {exc}")


def _quality_weights() -> list:
    """Retrains the identical quality model for the oracle: the same
    rounded features (DuckDB replica of text_stats — oracle-exact),
    the same first-256 sample, the same numpy IRLS."""
    import duckdb
    import numpy as np

    from cubes_spark.llm.quality import QUALITY_FEATURES, _irls

    path = f"{_oracle_sf_dir()}/documents.parquet"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    rows = con.execute(f"""
        WITH base AS ({_text_stats_sql()}),
        derived AS ({_TEXT_STATS_DERIVED})
        SELECT * FROM ({_QUALITY_FEATURES_SQL})
        ORDER BY doc_id LIMIT 256""").fetchall()
    X = np.array([[1.0] + [float(v) for v in r[1:6]] for r in rows])
    y = np.array([float(r[6]) for r in rows])
    return _irls(X, y, 25, 1e-3)


#: DuckDB replica of llm.quality._dsir_buckets for one gram string
_DSIR_BUCKET = ("(CAST(concat('0x', substr(md5('dsir:' || {g}), 1, 15)) "
                "AS BIGINT) % 128)")

#: unigrams + word bigrams of the whitespace tokens (DuckDB lists are
#: 1-based; range(1, n) is [1, n) so i+1 stays in bounds)
_DSIR_GRAMS_CTE = f"""
    toks AS (
        SELECT doc_id, lang, {_TOKENS} AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, lang,
            list_concat(t, CASE WHEN len(t) >= 2 THEN
                list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])
                ELSE [] END) AS g
        FROM toks
    )"""


def _emb_mmr_oracle(k: int = 8, pool: int = 24, lam: float = 0.7,
                    mod: int = 100, ann: bool = False) -> str:
    """Unrolled-SQL replay of llm/similarity.mmr_topk: the same
    cosine top-pool candidates (similarities rounded to 6 before
    ranking, ties on candidate id), then the k-step greedy MMR
    selection as one MATERIALIZED CTE stage per pick — materialized
    because each stage references all prior picks, and DuckDB would
    otherwise re-expand the chain exponentially.  The (1-lam)
    multiplier is emitted with repr() so it is the exact IEEE double
    the Python loop uses.

    ``ann=True`` replays the emb_mmr_ann composition instead: the
    candidate set is ivf_topk's top-``pool`` per query (retrained
    fixed-seed centroids as literals, nprobe=4 cell join, UNROUNDED
    cosine ranking with neighbor-id ties — exactly _emb_ivf_oracle's
    shape), and only those pairs are scored for the greedy stage."""
    mu = 1.0 - lam
    if ann:
        cand_block = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    cent(cluster, cv) AS (VALUES
            {_ivf_centroid_values()}),
    sims AS (
        SELECT e.vec_id, e.v, ct.cluster,
            list_dot_product(e.v, ct.cv) AS sim
        FROM e CROSS JOIN cent ct),
    cranked AS (
        SELECT vec_id, v, cluster,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cluster) AS crank
        FROM sims),
    assigned AS (
        SELECT vec_id AS nid, v AS nv, cluster
        FROM cranked WHERE crank = 1),
    probed AS (
        SELECT vec_id AS qid, v AS qv, cluster
        FROM cranked WHERE crank <= 4 AND vec_id % {mod} = 0),
    ivfranked AS MATERIALIZED (
        SELECT qid, nid,
            row_number() OVER (PARTITION BY qid ORDER BY
                list_dot_product(qv, nv)
                / (sqrt(list_dot_product(qv, qv))
                 * sqrt(list_dot_product(nv, nv))) DESC, nid) AS rk
        FROM probed JOIN assigned USING (cluster)
        WHERE qid <> nid),
    q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id % {mod} = 0),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    scored AS MATERIALIZED (
        SELECT a.qid, a.nid AS cid,
            round(list_dot_product(q.v, c.v)
                  / (sqrt(list_dot_product(q.v, q.v))
                   * sqrt(list_dot_product(c.v, c.v))), 6) AS simq
        FROM (SELECT qid, nid FROM ivfranked WHERE rk <= {pool}) a
        JOIN q ON q.vec_id = a.qid
        JOIN c ON c.vec_id = a.nid),"""
    else:
        cand_block = f"""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings WHERE vec_id % {mod} = 0),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    scored AS MATERIALIZED (
        SELECT q.vec_id AS qid, c.vec_id AS cid,
            round(list_dot_product(q.v, c.v)
                  / (sqrt(list_dot_product(q.v, q.v))
                   * sqrt(list_dot_product(c.v, c.v))), 6) AS simq
        FROM q JOIN c ON q.vec_id <> c.vec_id),"""
    head = f"""{cand_block}
    pool AS MATERIALIZED (
        SELECT qid, cid, simq FROM (
            SELECT qid, cid, simq,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY simq DESC, cid) AS rn
            FROM scored) WHERE rn <= {pool}),
    pairs AS MATERIALIZED (
        SELECT p1.qid, p1.cid AS ca, p2.cid AS cb,
            round(list_dot_product(v1.v, v2.v)
                  / (sqrt(list_dot_product(v1.v, v1.v))
                   * sqrt(list_dot_product(v2.v, v2.v))), 6) AS sim
        FROM pool p1
        JOIN pool p2 ON p1.qid = p2.qid AND p1.cid < p2.cid
        JOIN c v1 ON v1.vec_id = p1.cid
        JOIN c v2 ON v2.vec_id = p2.cid),
    s1 AS MATERIALIZED (
        SELECT qid, cid, {lam!r} * simq AS score FROM (
            SELECT qid, cid, simq,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY simq DESC, cid) AS rn
            FROM pool) WHERE rn = 1)"""
    stages = [head]
    for i in range(2, k + 1):
        prev_union = " UNION ALL ".join(
            f"SELECT qid, cid FROM s{j}" for j in range(1, i))
        stages.append(f"""
    sel{i - 1} AS MATERIALIZED ({prev_union}),
    cand{i} AS MATERIALIZED (
        SELECT p.qid, p.cid,
            {lam!r} * p.simq - {mu!r} * coalesce((
                SELECT max(pw.sim) FROM pairs pw
                WHERE pw.qid = p.qid
                  AND ((pw.ca = p.cid AND pw.cb IN
                        (SELECT cid FROM sel{i - 1} s
                         WHERE s.qid = p.qid))
                    OR (pw.cb = p.cid AND pw.ca IN
                        (SELECT cid FROM sel{i - 1} s
                         WHERE s.qid = p.qid)))
            ), 0.0) AS score
        FROM pool p
        WHERE p.cid NOT IN (SELECT cid FROM sel{i - 1} s
                            WHERE s.qid = p.qid)),
    s{i} AS MATERIALIZED (
        SELECT qid, cid, score FROM (
            SELECT qid, cid, score,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY score DESC, cid) AS rn
            FROM cand{i}) WHERE rn = 1)""")
    final = " UNION ALL ".join(
        f"SELECT qid, {j} AS rank, cid, score FROM s{j}"
        for j in range(1, k + 1))
    return (",".join(stages) + f"""
    SELECT qid AS query_id, CAST(rank AS BIGINT) AS rank,
        CAST(cid AS BIGINT) AS vec_id,
        CAST(floor(score * 1000000.0) AS BIGINT) AS mmr_score_e6
    FROM ({final})""")


def _pq_oracle() -> str:
    """Retrains the identical PQ codebooks (same id-ordered sample,
    same numpy per-subspace k-means) and replays encode (min_by over
    quantized subspace distances, ties to the lowest codeword) and the
    ADC scan with the SAME left-associated IEEE term order as the
    Spark folds."""
    import duckdb
    import numpy as np

    from cubes_spark.llm.similarity import train_pq_codebooks

    m, ksub_req, seed, k = 8, 16, 42, 5
    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    sample = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{path}') "
        "ORDER BY vec_id LIMIT 4096").fetchall()
    X = np.array([r[0] for r in sample], dtype=np.float64)
    books = train_pq_codebooks(X, m, ksub_req, seed)
    ksub, dsub = len(books[0]), len(books[0][0])
    cb = "[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(repr(v) for v in row) + "]"
            for row in book) + "]"
        for book in books) + "]"
    # encode distance for runtime columns j, c (left-assoc = the fold)
    enc_terms = " + ".join(
        f"((v[j*{dsub} + {d + 1}] - CB[j+1][c+1][{d + 1}]) "
        f"* (v[j*{dsub} + {d + 1}] - CB[j+1][c+1][{d + 1}]))"
        for d in range(dsub))
    # ADC: per-subspace quantized terms, j unrolled statically
    adc_terms = " + ".join(
        "CAST(round((" + " + ".join(
            f"((qv[{j * dsub + d + 1}] - CB[{j + 1}][code[{j + 1}]+1][{d + 1}]) "
            f"* (qv[{j * dsub + d + 1}] - CB[{j + 1}][code[{j + 1}]+1][{d + 1}]))"
            for d in range(dsub))
        + ") * 1000000000000.0) AS BIGINT)"
        for j in range(m))
    return f"""
    WITH cbs AS (SELECT {cb} AS CB),
    e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings
    ),
    enc AS MATERIALIZED (
        SELECT vec_id, j,
            min_by(c, dq * {ksub} + c) AS code_j
        FROM (
            SELECT e.vec_id, r1.j, r2.c,
                CAST(round(({enc_terms}) * 1000000000000.0)
                     AS BIGINT) AS dq
            FROM e CROSS JOIN cbs
            CROSS JOIN range(0, {m}) r1(j)
            CROSS JOIN range(0, {ksub}) r2(c)
        ) GROUP BY vec_id, j
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, list(code_j ORDER BY j) AS code
        FROM enc GROUP BY 1
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM e
        WHERE vec_id % 50 = 0
    ),
    dists AS (
        SELECT q.query_id, c2.vec_id AS neighbor_id,
            ({adc_terms}) AS adc_dist_q
        FROM codes c2 CROSS JOIN q CROSS JOIN cbs
        WHERE q.query_id <> c2.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist_q,
        CAST(row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist_q, neighbor_id)
             AS BIGINT) AS rank
    FROM dists QUALIFY rank <= {k}"""


def _emb_pq_recall_oracle() -> str:
    """Recall@1 of the PQ ADC scan vs exact cosine top-1 over the
    planted-duplicate corpus: retrains the identical codebooks on the
    identically-constructed augmented sample, replays encode + ADC
    (same quantized int64 arithmetic as _pq_oracle) and the exact
    ranking, then emits the Spark entry's counts."""
    import duckdb
    import numpy as np

    from cubes_spark.llm.similarity import train_pq_codebooks

    m, ksub_req, seed = 8, 16, 42
    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    sample = duckdb.sql(f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM read_parquet('{path}')
        ),
        aug AS (
            SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 10000000, list_prepend(v[1] + 0.2, v[2:])
            FROM base WHERE vec_id % 10 = 0
        )
        SELECT v FROM aug ORDER BY vec_id LIMIT 4096""").fetchall()
    X = np.array([r[0] for r in sample], dtype=np.float64)
    books = train_pq_codebooks(X, m, ksub_req, seed)
    ksub, dsub = len(books[0]), len(books[0][0])
    cb = "[" + ", ".join(
        "[" + ", ".join(
            "[" + ", ".join(repr(v) for v in row) + "]"
            for row in book) + "]"
        for book in books) + "]"
    enc_terms = " + ".join(
        f"((v[j*{dsub} + {d + 1}] - CB[j+1][c+1][{d + 1}]) "
        f"* (v[j*{dsub} + {d + 1}] - CB[j+1][c+1][{d + 1}]))"
        for d in range(dsub))
    adc_terms = " + ".join(
        "CAST(round((" + " + ".join(
            f"((qv[{j * dsub + d + 1}] - CB[{j + 1}][code[{j + 1}]+1][{d + 1}]) "
            f"* (qv[{j * dsub + d + 1}] - CB[{j + 1}][code[{j + 1}]+1][{d + 1}]))"
            for d in range(dsub))
        + ") * 1000000000000.0) AS BIGINT)"
        for j in range(m))
    return f"""
    WITH {_AUG_CORPUS_SQL},
    cbs AS (SELECT {cb} AS CB),
    enc AS MATERIALIZED (
        SELECT vec_id, j,
            min_by(c, dq * {ksub} + c) AS code_j
        FROM (
            SELECT aug.vec_id, r1.j, r2.c,
                CAST(round(({enc_terms}) * 1000000000000.0)
                     AS BIGINT) AS dq
            FROM aug CROSS JOIN cbs
            CROSS JOIN range(0, {m}) r1(j)
            CROSS JOIN range(0, {ksub}) r2(c)
        ) GROUP BY vec_id, j
    ),
    codes AS MATERIALIZED (
        SELECT vec_id, list(code_j ORDER BY j) AS code
        FROM enc GROUP BY 1
    ),
    q AS (
        SELECT vec_id AS query_id, v AS qv FROM aug
        WHERE vec_id >= 10000000
    ),
    pq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c2.vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q.query_id
                    ORDER BY ({adc_terms}), c2.vec_id) AS rank
            FROM codes c2 CROSS JOIN q CROSS JOIN cbs
            WHERE q.query_id <> c2.vec_id
        ) WHERE rank = 1
    ),
    cos AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_dot_product(q.v, c.v)
            / (sqrt(list_dot_product(q.v, q.v))
             * sqrt(list_dot_product(c.v, c.v))) AS cosine
        FROM aug q JOIN aug c ON q.vec_id <> c.vec_id
        WHERE q.vec_id >= 10000000
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
                    AS rank
            FROM cos
        ) WHERE rank = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(COUNT(a.query_id) AS BIGINT) AS n_hit,
        CAST(COUNT(a.query_id) * 10000 // COUNT(*) AS BIGINT)
            AS recall_bp,
        COUNT(a.query_id) * 10 >= COUNT(*) * 8 AS recall_ok
    FROM exact x LEFT JOIN pq a
        ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id"""


def _dsir_sample_oracle() -> str:
    """doc_dsir's scoring CTE plus the Gumbel-top-k replay: the same
    md5-seeded uniform, the same ``-ln(-ln u)`` noise, the same
    ``log w + g`` key rounded to 6 decimals."""
    import duckdb

    from cubes_spark.llm.quality import dsir_log_ratios

    path = f"{_oracle_sf_dir()}/documents.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")

    def counts(where: str) -> list:
        rows = con.execute(f"""
            WITH {_DSIR_GRAMS_CTE}
            SELECT {_DSIR_BUCKET.format(g='gram')} AS b, count(*)
            FROM (SELECT unnest(g) AS gram FROM grams {where})
            GROUP BY 1""").fetchall()
        out = [0] * 128
        for b, n in rows:
            out[int(b)] = int(n)
        return out

    ratios_q = dsir_log_ratios(counts("WHERE lang = 'en'"),
                               counts(""))
    lr = "[" + ", ".join(str(v) for v in ratios_q) + "]"
    gum = ("(- ln(- ln((CAST(CAST(concat('0x', substr(md5('gumbel:' "
           "|| CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) "
           "AS DOUBLE) + 1.0) / 1152921504606846977.0)))")
    return f"""
    WITH {_DSIR_GRAMS_CTE},
    scored AS MATERIALIZED (
        SELECT doc_id, lang,
            CAST(COALESCE(list_sum(list_transform(g,
                x -> ({lr})[{_DSIR_BUCKET.format(g='x')} + 1])), 0)
                AS BIGINT) AS dsir_score_q
        FROM grams
    ),
    keyed AS (
        SELECT doc_id, lang, dsir_score_q,
            round(CAST(dsir_score_q AS DOUBLE) * 1e-06 + {gum}, 6)
                AS gumbel_key
        FROM scored
    )
    SELECT doc_id, lang, dsir_score_q, gumbel_key,
        CAST(row_number() OVER (ORDER BY gumbel_key DESC, doc_id)
             AS BIGINT) AS rank
    FROM keyed ORDER BY rank LIMIT 64"""


def _bm25_oracle() -> str:
    """Recomputes N/avgdl/per-term document frequencies in DuckDB,
    takes the SAME ``math.log`` idf doubles as the operator (both are
    driver-side Python on identical integer counts), and replays the
    scoring with the identical IEEE expression order; contributions
    quantize to int64 1e-9 units exactly like llm.text.bm25_search."""
    import duckdb
    import math

    k1, b = 1.2, 0.75
    terms_sql = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    path = f"{_oracle_sf_dir()}/documents.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    n_docs, total = con.execute(f"""
        SELECT count(*), COALESCE(SUM(len({_TOKENS})), 0)
        FROM documents""").fetchone()
    n_docs, total = int(n_docs), int(total)
    avgdl = (total / n_docs) if n_docs and total else 1.0
    dfs = dict(con.execute(f"""
        SELECT term, count(*) FROM (
            SELECT DISTINCT doc_id, unnest({_TOKENS}) AS term
            FROM documents)
        WHERE term IN ({terms_sql}) GROUP BY 1""").fetchall())
    idf_case = "CASE term " + " ".join(
        f"WHEN '{t}' THEN {math.log((n_docs - dfs.get(t, 0) + 0.5) / (dfs.get(t, 0) + 0.5) + 1.0)!r}"
        for t in _BM25_TERMS) + " ELSE 0.0 END"
    return f"""
    WITH postings AS MATERIALIZED (
        SELECT doc_id, term, count(*) AS tf FROM (
            SELECT doc_id, unnest({_TOKENS}) AS term FROM documents)
        WHERE term IN ({terms_sql})
        GROUP BY 1, 2
    ),
    lens AS (
        SELECT doc_id, len({_TOKENS}) AS dl FROM documents
    ),
    contrib AS (
        SELECT p.doc_id,
            CAST(round((({idf_case})
                * (CAST(tf AS DOUBLE) * {k1 + 1.0!r})
                / (CAST(tf AS DOUBLE)
                   + {k1!r} * ({1.0 - b!r}
                               + {b!r} * CAST(dl AS DOUBLE)
                               / {avgdl!r})))
                * 1000000000.0) AS BIGINT) AS cq
        FROM postings p JOIN lens l USING (doc_id)
    ),
    scored AS (
        SELECT doc_id, CAST(SUM(cq) AS BIGINT) AS score_q,
            CAST(count(*) AS BIGINT) AS n_hit_terms
        FROM contrib GROUP BY 1
    )
    SELECT doc_id, score_q, n_hit_terms,
        CAST(row_number() OVER (ORDER BY score_q DESC, doc_id)
             AS BIGINT) AS rank
    FROM scored ORDER BY rank LIMIT 20"""


def _lpa_oracle() -> str:
    """Unrolls label_propagation's 3 synchronous rounds in SQL —
    same undirected-distinct edges, same most-frequent/min-tie label
    choice, same keep-own for neighborless nodes."""
    rounds = 3
    parts = ["""e0 AS (
        SELECT doc_id AS src,
            (doc_id // 50) * 50 + ((doc_id % 50 + 1) % 50) AS dst
        FROM documents
    ),
    und AS MATERIALIZED (
        SELECT src AS s, dst AS d FROM e0
        UNION
        SELECT dst, src FROM e0
    ),
    nodes AS MATERIALIZED (SELECT DISTINCT s AS node FROM und),
    r0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)"""]
    for k in range(1, rounds + 1):
        parts.append(f"""c{k} AS MATERIALIZED (
        SELECT u.s AS node, l.label, count(*) AS c
        FROM und u JOIN r{k - 1} l ON u.d = l.node
        GROUP BY 1, 2
    ),
    b{k} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT node, label,
                row_number() OVER (PARTITION BY node
                                   ORDER BY c DESC, label) AS rn
            FROM c{k}
        ) WHERE rn = 1
    ),
    r{k} AS MATERIALIZED (
        SELECT n.node, COALESCE(b.label, n.node) AS label
        FROM nodes n LEFT JOIN b{k} b USING (node)
    )""")
    return ("WITH " + ",\n    ".join(parts)
            + f"\n    SELECT node, label FROM r{rounds}")


def _dsir_oracle() -> str:
    """Independently recounts the target (lang='en') and raw hashed
    n-gram distributions in DuckDB, recomputes the quantized log
    ratios with the shared deterministic arithmetic
    (llm.quality.dsir_log_ratios), and replays the per-document int64
    scoring with the ratio table as a literal list."""
    import duckdb

    from cubes_spark.llm.quality import dsir_log_ratios

    path = f"{_oracle_sf_dir()}/documents.parquet"
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")

    def counts(where: str) -> list:
        rows = con.execute(f"""
            WITH {_DSIR_GRAMS_CTE}
            SELECT {_DSIR_BUCKET.format(g='gram')} AS b, count(*)
            FROM (SELECT unnest(g) AS gram FROM grams {where})
            GROUP BY 1""").fetchall()
        out = [0] * 128
        for b, n in rows:
            out[int(b)] = int(n)
        return out

    ratios_q = dsir_log_ratios(counts("WHERE lang = 'en'"),
                               counts(""))
    lr = "[" + ", ".join(str(v) for v in ratios_q) + "]"
    return f"""
    WITH {_DSIR_GRAMS_CTE}
    SELECT doc_id, lang,
        CAST(COALESCE(list_sum(list_transform(g,
            x -> ({lr})[{_DSIR_BUCKET.format(g='x')} + 1])), 0)
            AS BIGINT) AS dsir_score_q,
        CAST(len(g) AS BIGINT) AS n_grams
    FROM grams"""


def _auto_nlist_value(sample_size: int = 4096) -> int:
    """Replays the engine's ``_auto_nlist`` bounded-cell rule
    (llm/similarity.py) from the oracle side: corpus count from the
    same parquet, then ``max(16, min(N // cell, sample_size))``."""
    import duckdb

    from cubes_spark.llm.similarity import _AUTO_NLIST_CELL

    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    (n,) = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{path}')").fetchone()
    return max(16, min(max(int(n), 1) // _AUTO_NLIST_CELL,
                       sample_size))


def _kmeans_cent_values(nlist: int = 16) -> str:
    """Centroid VALUES rows for the kmeans/semdedup oracles: retrains
    the identical fixed-seed spherical k-means (seed=42,
    sample_size=4096) on the identical id-sorted sample — same recipe
    as _emb_ivf_oracle."""
    import duckdb
    import numpy as np

    from cubes_spark.llm.similarity import train_spherical_kmeans

    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    sample = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{path}') "
        "ORDER BY vec_id LIMIT 4096"
    ).fetchall()
    X = np.array([r[0] for r in sample], dtype=np.float64)
    cent = train_spherical_kmeans(X, nlist, 42)
    return ",\n            ".join(
        f"({i + 1}, {_sql_dvec(row)})" for i, row in enumerate(cent)
    )


_KMEANS_ASSIGNED_CTE = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    cent(cluster, cv) AS (VALUES
            {values}),
    sims AS (
        SELECT e.vec_id, e.v, c.cluster,
            list_dot_product(e.v, c.cv) AS sim
        FROM e CROSS JOIN cent c
    ),
    cranked AS (
        SELECT vec_id, v, cluster, sim,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cluster) AS crank
        FROM sims
    ),
    assigned AS (
        SELECT vec_id, v, cluster, sim FROM cranked WHERE crank = 1
    )"""


def _emb_kmeans_oracle() -> str:
    cte = _KMEANS_ASSIGNED_CTE.format(values=_kmeans_cent_values())
    return cte + """
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
        round(sim, 6) AS centroid_sim
    FROM assigned"""


def _emb_semdedup_greedy_oracle(max_rounds: int = 8) -> str:
    """Unrolls semantic_dedup_greedy's decidability rounds as chained
    CTEs: d1 = unconstrained vectors (kept); d{k+1} adds every vector
    whose lower-id neighbours are all in d{k}, kept iff none of them
    is kept.  max_rounds-1 progress rounds, exactly like the Spark
    loop; undecided-at-cap vectors land as dropped via the final left
    join's COALESCE(FALSE)."""
    cte = _KMEANS_ASSIGNED_CTE.format(values=_kmeans_cent_values())
    parts = [cte + """
    , edges AS MATERIALIZED (
        SELECT r.vec_id AS v, l.vec_id AS u
        FROM assigned l JOIN assigned r
            ON l.cluster = r.cluster AND l.vec_id < r.vec_id
        WHERE list_dot_product(l.v, r.v)
              / (sqrt(list_dot_product(l.v, l.v))
               * sqrt(list_dot_product(r.v, r.v))) >= 0.35
    ),
    deg AS MATERIALIZED (
        SELECT v, COUNT(*) AS n FROM edges GROUP BY v),
    d1 AS MATERIALIZED (
        SELECT a.vec_id AS v, TRUE AS kept
        FROM assigned a LEFT JOIN deg ON a.vec_id = deg.v
        WHERE deg.v IS NULL
    )"""]
    for k in range(1, max_rounds):
        parts.append(f""",
    d{k + 1} AS MATERIALIZED (
        SELECT * FROM d{k}
        UNION ALL
        SELECT e.v,
            (SUM(CASE WHEN s.kept THEN 1 ELSE 0 END) = 0) AS kept
        FROM edges e
        JOIN d{k} s ON e.u = s.v
        JOIN deg ON deg.v = e.v
        WHERE e.v NOT IN (SELECT v FROM d{k})
        GROUP BY e.v, deg.n
        HAVING COUNT(*) = deg.n
    )""")
    parts.append(f"""
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
        CAST(CASE WHEN COALESCE(d.kept, FALSE) THEN 1 ELSE 0 END
             AS BIGINT) AS is_kept
    FROM assigned a LEFT JOIN d{max_rounds} d ON a.vec_id = d.v""")
    return "".join(parts)


def _emb_semdedup_auto_oracle() -> str:
    """The production SemDeDup default: nlist resolved by the engine's
    bounded-cell auto rule (cell ≈ 128 — linear total work at scale)
    instead of a pinned literal; the oracle recomputes the same nlist
    from the same corpus count, retrains identically, and replays the
    same one-pass drop rule."""
    cte = _KMEANS_ASSIGNED_CTE.format(
        values=_kmeans_cent_values(_auto_nlist_value()))
    return cte + _SEMDEDUP_DROP_SQL


_SEMDEDUP_DROP_SQL = """
    , drops AS (
        SELECT DISTINCT r.vec_id
        FROM assigned l JOIN assigned r
            ON l.cluster = r.cluster AND l.vec_id < r.vec_id
        WHERE list_dot_product(l.v, r.v)
              / (sqrt(list_dot_product(l.v, l.v))
               * sqrt(list_dot_product(r.v, r.v))) >= 0.35
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
        CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
            AS is_kept
    FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id"""


def _emb_semdedup_oracle() -> str:
    cte = _KMEANS_ASSIGNED_CTE.format(values=_kmeans_cent_values())
    return cte + """
    , drops AS (
        SELECT DISTINCT r.vec_id
        FROM assigned l JOIN assigned r
            ON l.cluster = r.cluster AND l.vec_id < r.vec_id
        WHERE list_dot_product(l.v, r.v)
              / (sqrt(list_dot_product(l.v, l.v))
               * sqrt(list_dot_product(r.v, r.v))) >= 0.35
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
        CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
            AS is_kept
    FROM assigned a LEFT JOIN drops d ON a.vec_id = d.vec_id"""


_AUG_CORPUS_SQL = """
    base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    aug AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + 10000000, list_prepend(v[1] + 0.2, v[2:])
        FROM base WHERE vec_id % 10 = 0
    )"""


def _auto_lsh_planes_value() -> int:
    """Replays the engine's ``_auto_num_planes`` rule
    (llm/similarity.py) from the oracle side: the AUGMENTED corpus
    count (base + planted) from the same parquet, then
    ``max(8, ceil(log2(N / _AUTO_LSH_BUCKET)))``."""
    import math

    import duckdb

    from cubes_spark.llm.similarity import _AUTO_LSH_BUCKET

    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    (n,) = duckdb.sql(
        "SELECT COUNT(*) + COUNT(*) FILTER (vec_id % 10 = 0) "
        f"FROM read_parquet('{path}')").fetchone()
    return max(8, math.ceil(math.log2(
        max(max(int(n), 1) / _AUTO_LSH_BUCKET, 1.0))))


def _emb_neardup_auto_oracle() -> str:
    """Replays embedding_near_duplicates(threshold=0.9, method='lsh',
    num_planes=None, num_tables=4): the auto plane count recomputed
    from the same corpus count, then the identical candidate
    generation + exact-cosine verify."""
    planes = _auto_lsh_planes_value()
    return f"""
    WITH {_AUG_CORPUS_SQL},
    {_aug_bucketed_sql(4, planes)},
    cand AS (
        SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        FROM bucketed l
        JOIN bucketed r
          ON l.tbl = r.tbl AND l.bucket = r.bucket
         AND l.vec_id < r.vec_id
    )
    SELECT c.id_a, c.id_b,
        round(list_dot_product(x.v, y.v)
            / (sqrt(list_dot_product(x.v, x.v))
             * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
    FROM cand c
    JOIN aug x ON x.vec_id = c.id_a
    JOIN aug y ON y.vec_id = c.id_b
    WHERE list_dot_product(x.v, y.v)
        / (sqrt(list_dot_product(x.v, x.v))
         * sqrt(list_dot_product(y.v, y.v))) >= 0.9"""


def _aug_bucketed_sql(num_tables: int, num_planes: int) -> str:
    """LSH (table, bucket) assignment CTEs over the augmented corpus —
    same md5-derived plane literals the engine folds over."""
    from cubes_spark.llm.similarity import _plane_components

    dim = _emb_dim()
    rows = []
    for t in range(num_tables):
        for p, prow in enumerate(
                _plane_components(num_planes, dim, 42 + 7919 * t)):
            rows.append(f"({t}, {1 << p}, {_sql_dvec(prow)})")
    planes = ",\n            ".join(rows)
    return f"""
    planes(tbl, w, pv) AS (VALUES
            {planes}),
    bucketed AS (
        SELECT aug.vec_id, aug.v, pl.tbl,
            SUM(CASE WHEN list_dot_product(aug.v, pl.pv) > 0
                THEN pl.w ELSE 0 END) AS bucket
        FROM aug CROSS JOIN planes pl
        GROUP BY aug.vec_id, aug.v, pl.tbl
    )"""


def _emb_projection_oracle() -> str:
    """Replays random_projection(out_dim=8, seed=42): the identical
    md5-derived, 1/sqrt(8)-scaled plane rows as literals."""
    import math

    from cubes_spark.llm.similarity import _plane_components

    dim = _emb_dim()
    scale = 1.0 / math.sqrt(8)
    rows = []
    for p, prow in enumerate(_plane_components(8, dim, 42)):
        rows.append(f"({p}, {_sql_dvec([x * scale for x in prow])})")
    planes = ",\n            ".join(rows)
    return f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings WHERE vec_id % 25 = 0
        ),
        planes(idx, pv) AS (VALUES
            {planes})
        SELECT e.vec_id, CAST(p.idx AS BIGINT) AS idx,
            round(list_dot_product(e.v, p.pv), 6) AS value
        FROM e CROSS JOIN planes p"""


def _doc_keep_best_oracle() -> str:
    """Union-find over the doc_minhash oracle pairs (independent
    DuckDB recomputation), components as literal rows, then the
    keep-best selection (max n_chars, ties by lowest id) replayed as
    a window over the join with documents."""
    import duckdb

    con = duckdb.connect()
    path = _oracle_sf_dir()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')"
    )
    pairs = con.execute(f"""
        {_minhash_cte()}
        SELECT id_a, id_b FROM pairs""").fetchall()
    doc_ids = [r[0] for r in
               con.execute("SELECT doc_id FROM documents").fetchall()]
    con.close()

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    values = ",\n            ".join(
        f"({doc_id}, {find(doc_id)})" for doc_id in sorted(doc_ids))
    return f"""
        WITH comp(doc_id, component) AS (VALUES
            {values})
        SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
            CAST(c.component AS BIGINT) AS component,
            CAST(d.n_chars AS BIGINT) AS n_chars,
            (row_number() OVER (PARTITION BY c.component
                ORDER BY d.n_chars DESC, c.doc_id) = 1) AS keep
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id"""


def _doc_dup_clusters_oracle() -> str:
    """Union-find over the pairs produced by the doc_minhash oracle SQL
    (an INDEPENDENT pair derivation — DuckDB recomputes the full
    MinHash/banding pipeline), embedded as literal rows.  Singletons
    are their own component."""
    import duckdb

    con = duckdb.connect()
    path = _oracle_sf_dir()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet')"
    )
    pair_sql = f"""
        {_minhash_cte()}
        SELECT id_a, id_b FROM pairs"""
    pairs = con.execute(pair_sql).fetchall()
    doc_ids = [r[0] for r in
               con.execute("SELECT doc_id FROM documents").fetchall()]
    con.close()

    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    rows = []
    for doc_id in sorted(doc_ids):
        comp = find(doc_id)
        rows.append(f"({doc_id}, {comp}, {str(comp == doc_id).upper()})")
    values = ",\n            ".join(rows)
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
            CAST(component AS BIGINT) AS component, is_canonical
        FROM (VALUES
            {values}) AS t(doc_id, component, is_canonical)"""


def _emb_ann_recall_oracle() -> str:
    """Recall@1 of the deterministic LSH ANN vs the exact top-1 over
    the planted-duplicate corpus, both recomputed independently in
    SQL; integer basis points, so no cross-engine float rounding."""
    return f"""
    WITH {_AUG_CORPUS_SQL},
    {_aug_bucketed_sql(4, 8)},
    cos AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_dot_product(q.v, c.v)
            / (sqrt(list_dot_product(q.v, q.v))
             * sqrt(list_dot_product(c.v, c.v))) AS cosine
        FROM aug q JOIN aug c ON q.vec_id <> c.vec_id
        WHERE q.vec_id >= 10000000
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
                    AS rank
            FROM cos
        ) WHERE rank = 1
    ),
    cand AS (
        SELECT DISTINCT l.vec_id AS query_id, r.vec_id AS neighbor_id
        FROM bucketed l
        JOIN bucketed r
          ON l.tbl = r.tbl AND l.bucket = r.bucket
         AND l.vec_id <> r.vec_id
        WHERE l.vec_id >= 10000000
    ),
    ann AS (
        SELECT query_id, neighbor_id FROM (
            SELECT c.query_id, c.neighbor_id,
                row_number() OVER (PARTITION BY c.query_id
                                   ORDER BY k.cosine DESC, c.neighbor_id)
                    AS rank
            FROM cand c JOIN cos k
                ON k.query_id = c.query_id
               AND k.neighbor_id = c.neighbor_id
        ) WHERE rank = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(COUNT(a.query_id) AS BIGINT) AS n_hit,
        CAST(COUNT(a.query_id) * 10000 // COUNT(*) AS BIGINT)
            AS recall_bp,
        COUNT(a.query_id) * 10 >= COUNT(*) * 8 AS recall_ok
    FROM exact x LEFT JOIN ann a
        ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id"""


def _emb_ivf_recall_oracle() -> str:
    """Recall@1 of IVF (nlist=16, nprobe=4, seed=42) vs the exact
    top-1 over the planted-duplicate corpus: retrains the identical
    fixed-seed k-means on the identically-constructed augmented
    sample and replays assignment/probing in SQL."""
    import duckdb
    import numpy as np

    from cubes_spark.llm.similarity import train_spherical_kmeans

    path = f"{_oracle_sf_dir()}/embeddings.parquet"
    sample = duckdb.sql(f"""
        WITH base AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM read_parquet('{path}')
        ),
        aug AS (
            SELECT vec_id, v FROM base
            UNION ALL
            SELECT vec_id + 10000000, list_prepend(v[1] + 0.2, v[2:])
            FROM base WHERE vec_id % 10 = 0
        )
        SELECT v FROM aug ORDER BY vec_id LIMIT 4096""").fetchall()
    X = np.array([r[0] for r in sample], dtype=np.float64)
    cent = train_spherical_kmeans(X, 16, 42)
    values = ",\n            ".join(
        f"({i + 1}, {_sql_dvec(row)})" for i, row in enumerate(cent)
    )
    return f"""
    WITH {_AUG_CORPUS_SQL},
    cent(cluster, cv) AS (VALUES
            {values}),
    sims AS (
        SELECT aug.vec_id, aug.v, c.cluster,
            list_dot_product(aug.v, c.cv) AS sim
        FROM aug CROSS JOIN cent c
    ),
    cranked AS (
        SELECT vec_id, v, cluster,
            row_number() OVER (PARTITION BY vec_id
                               ORDER BY sim DESC, cluster) AS crank
        FROM sims
    ),
    assigned AS (
        SELECT vec_id AS neighbor_id, cluster
        FROM cranked WHERE crank = 1
    ),
    probed AS (
        SELECT vec_id AS query_id, cluster
        FROM cranked WHERE crank <= 4 AND vec_id >= 10000000
    ),
    cos AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_dot_product(q.v, c.v)
            / (sqrt(list_dot_product(q.v, q.v))
             * sqrt(list_dot_product(c.v, c.v))) AS cosine
        FROM aug q JOIN aug c ON q.vec_id <> c.vec_id
        WHERE q.vec_id >= 10000000
    ),
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id)
                    AS rank
            FROM cos
        ) WHERE rank = 1
    ),
    ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.neighbor_id,
                row_number() OVER (PARTITION BY p.query_id
                                   ORDER BY k.cosine DESC,
                                            a.neighbor_id) AS rank
            FROM probed p
            JOIN assigned a USING (cluster)
            JOIN cos k ON k.query_id = p.query_id
                      AND k.neighbor_id = a.neighbor_id
            WHERE p.query_id <> a.neighbor_id
        ) WHERE rank = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
        CAST(COUNT(a.query_id) AS BIGINT) AS n_hit,
        CAST(COUNT(a.query_id) * 10000 // COUNT(*) AS BIGINT)
            AS recall_bp,
        COUNT(a.query_id) * 10 >= COUNT(*) * 8 AS recall_ok
    FROM exact x LEFT JOIN ivf a
        ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id"""


def _emb_neardup_recall_oracle() -> str:
    """Replicates embedding_near_duplicates(threshold=0.9,
    method='lsh', num_planes=None (auto), num_tables=4, seed=42)
    candidate generation + exact verify over the planted corpus, and
    the exact ground truth against the fixed 256-vector evaluation
    panel (lowest planted ids — the r14 linear-at-scale reshape),
    then the recall/precision counts the Spark entry emits.  The LSH
    arm runs the production auto plane count, recomputed here from
    the same corpus count."""
    return f"""
    WITH {_AUG_CORPUS_SQL},
    {_aug_bucketed_sql(4, _auto_lsh_planes_value())},
    panel AS MATERIALIZED (
        SELECT vec_id, v FROM aug WHERE vec_id >= 10000000
        ORDER BY vec_id LIMIT 256
    ),
    exact AS MATERIALIZED (
        SELECT DISTINCT least(a.vec_id, p.vec_id) AS id_a,
            greatest(a.vec_id, p.vec_id) AS id_b
        FROM aug a JOIN panel p ON a.vec_id <> p.vec_id
        WHERE list_dot_product(a.v, p.v)
            / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(p.v, p.v))) >= 0.9
    ),
    cand AS (
        SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
        FROM bucketed l
        JOIN bucketed r
          ON l.tbl = r.tbl AND l.bucket = r.bucket
         AND l.vec_id < r.vec_id
    ),
    lsh AS MATERIALIZED (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN aug x ON x.vec_id = c.id_a
        JOIN aug y ON y.vec_id = c.id_b
        WHERE list_dot_product(x.v, y.v)
            / (sqrt(list_dot_product(x.v, x.v))
             * sqrt(list_dot_product(y.v, y.v))) >= 0.9
    ),
    lsh_panel AS MATERIALIZED (
        SELECT DISTINCT l.id_a, l.id_b
        FROM lsh l JOIN panel p
          ON l.id_a = p.vec_id OR l.id_b = p.vec_id
    ),
    marked AS (
        SELECT x.id_a, l.id_a AS hit
        FROM exact x LEFT JOIN lsh_panel l
            ON x.id_a = l.id_a AND x.id_b = l.id_b
    )
    SELECT CAST((SELECT COUNT(*) FROM marked) AS BIGINT) AS n_exact,
        CAST((SELECT COUNT(*) FROM lsh) AS BIGINT) AS n_lsh,
        CAST((SELECT COUNT(*) FROM lsh_panel) AS BIGINT)
            AS n_lsh_panel,
        CAST((SELECT COUNT(hit) FROM marked) AS BIGINT) AS n_hit,
        CAST((SELECT COUNT(hit) FROM marked) * 10000
             // (SELECT COUNT(*) FROM marked) AS BIGINT) AS recall_bp,
        (SELECT COUNT(hit) FROM marked)
            = (SELECT COUNT(*) FROM lsh_panel) AS precision_ok,
        (SELECT COUNT(hit) FROM marked) * 10
            >= (SELECT COUNT(*) FROM marked) * 8 AS recall_ok"""

