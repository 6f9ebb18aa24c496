"""DuckDB oracle SQL for every KG pipeline stage.

The driver's correctness gate runs each Spark query side-by-side with an ANSI
SQL equivalent on DuckDB over the same parquet tables.  This module generates
that SQL *from the same pattern tables the engine executes*
(:mod:`kgx.operators.rules`, :mod:`kgx.sources.corpus`), so the two sides
cannot drift: the regexes, stop words, keyword cascades and template
vocabulary are interpolated from one source of truth.

Python ``re`` (engine side, inside Arrow batches) and DuckDB's RE2 agree on
every construct these patterns use (leftmost-first alternation, greedy
quantifiers, ``\\b``, ``(?i)``, ``\\s``/``\\w``/``\\d`` over ASCII) — verified
empirically by tools/compare_oracle.py at sf0.01.
"""

from __future__ import annotations

from kgx.functions.hashing import duckdb_md5_60
from kgx.operators import curation, rules, validate
from kgx.sources.corpus import NARRATIVE_CTE

# ---------------------------------------------------------------------------
# shared CTE prefix: narrative corpus → chunked spans → rebuilt doc text
# ---------------------------------------------------------------------------

_BASE = f"""
WITH {NARRATIVE_CTE},
chunked AS (
    SELECT 'doc-' || doc_id AS doc_id,
           doc_id AS did,
           list_filter(
               list_transform(regexp_extract_all(text, '[^.!?]+[.!?]*'),
                              c -> regexp_replace(c, '^\\s+|\\s+$', '', 'g')),
               c -> c <> '') AS chunks
    FROM narrative
),
doctext AS (
    SELECT doc_id, did, array_to_string(chunks, ' ') AS text FROM chunked
)
""".strip()

_STOPLIST = ", ".join(f"'{w}'" for w in sorted(rules.STOP_WORDS))

_MENTION_SQL_RX = r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+)*\b"

# mentions → stop-word filter → first occurrence → cap 15 → node ids
_NODES_CTES = f"""
raw_mentions AS (
    SELECT doc_id,
           unnest(regexp_extract_all(text, '{_MENTION_SQL_RX}')) AS label,
           generate_subscripts(regexp_extract_all(text, '{_MENTION_SQL_RX}'), 1) AS ord
    FROM doctext
),
first_seen AS (
    SELECT doc_id, label, min(ord) AS first_ord
    FROM raw_mentions
    WHERE label NOT IN ({_STOPLIST})
    GROUP BY doc_id, label
),
capped AS (
    SELECT doc_id, label,
           row_number() OVER (PARTITION BY doc_id ORDER BY first_ord) AS rnk
    FROM first_seen
    QUALIFY rnk <= {rules.MENTION_CAP}
),
nodes AS MATERIALIZED (
    SELECT c.doc_id, 'n' || c.rnk AS node_id, c.label, c.rnk, d.text
    FROM capped c JOIN doctext d USING (doc_id)
)
""".strip()


def _keyword_like(col: str, keywords) -> str:
    return "(" + " OR ".join(f"lower({col}) LIKE '%{k}%'" for k in keywords) + ")"


def _node_type_case() -> str:
    """SQL mirror of rules.classify_entity (reference services.py:507-547)."""
    org = _keyword_like("label", rules._ORG_KEYWORDS)
    loc = _keyword_like("label", rules._LOC_KEYWORDS)
    tech = _keyword_like("label", rules._TECH_KEYWORDS)
    title = _keyword_like("label", rules._TITLE_KEYWORDS)
    # labels only contain [A-Za-z ] (mention regex), so no regex-escaping is
    # needed when interpolating the label into the context patterns
    p1 = r"label || '\s+(?:is|was|works|worked|manages|founded)'"
    p2 = r"'(?:Mr\.|Mrs\.|Dr\.|Ms\.)\s+' || label"
    p3 = r"label || '\s+(?:serves as|joined|left)'"
    return f"""
        CASE
          WHEN {org} THEN 'Organization'
          WHEN {loc} THEN 'Location'
          WHEN {tech} THEN 'Technology'
          WHEN {title} THEN 'JobTitle'
          WHEN regexp_matches(text, '(?i)' || {p1}) THEN 'Person'
          WHEN regexp_matches(text, '(?i)' || {p2}) THEN 'Person'
          WHEN regexp_matches(text, '(?i)' || {p3}) THEN 'Person'
          WHEN len(str_split(label, ' ')) = 2 THEN 'Person'
          ELSE 'Entity'
        END
    """.strip()


def spans_sql() -> str:
    """Oracle for the interleaved span table (kgx.sources.docs.spans_table)."""
    return f"""
{_BASE},
per_chunk AS (
    SELECT doc_id, did,
           unnest(chunks) AS chunk,
           generate_subscripts(chunks, 1) - 1 AS ci
    FROM chunked
),
sp AS (
    SELECT doc_id, ci, 0 AS sub, 'text' AS kind, chunk AS text, '' AS media_ref
    FROM per_chunk
    UNION ALL
    SELECT doc_id, ci, 1, 'media', '',
           's3://media/doc-' || did || '-' || ci ||
           (CASE (did + ci) % 3 WHEN 0 THEN '.png' WHEN 1 THEN '.mp4' ELSE '.wav' END)
    FROM per_chunk WHERE (did + ci) % 5 = 2
)
SELECT doc_id, kind, text, media_ref,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ci, sub) - 1 AS INT)
           AS span_pos
FROM sp
""".strip()


def doc_text_sql() -> str:
    return f"{_BASE}\nSELECT doc_id, text AS doc_text FROM doctext"


def mentions_sql() -> str:
    return f"""
{_BASE},
{_NODES_CTES}
SELECT doc_id, label, CAST(rnk AS INT) AS mention_rank FROM nodes
""".strip()


def nodes_sql() -> str:
    return f"""
{_BASE},
{_NODES_CTES}
SELECT doc_id, node_id, label, {_node_type_case()} AS node_type FROM nodes
""".strip()


def _stem_sql(col: str) -> str:
    """SQL mirror of kgx.operators.linking.normalized_stem."""
    from kgx.operators.linking import _SUFFIX_RX

    return (
        f"trim(regexp_replace(regexp_replace(lower({col}), '{_SUFFIX_RX}', ''),"
        " '\\s+', ' ', 'g'))"
    )


def canonical_map_sql() -> str:
    """Oracle for alias-based canonicalization.  Alias edges connect exactly
    the labels sharing a normalized stem, so the connected components the
    engine computes via large-star/small-star are the stem equivalence
    classes — the oracle is a plain window-min over stems."""
    return f"""
{_BASE},
{_NODES_CTES},
labs AS (SELECT DISTINCT label FROM nodes),
stemmed AS (SELECT label, {_stem_sql('label')} AS stem FROM labs)
SELECT label,
       min(label) OVER (PARTITION BY stem) AS canonical_label,
       sha256(min(label) OVER (PARTITION BY stem)) AS canonical_id
FROM stemmed
""".strip()


def canonical_triples_sql() -> str:
    """Oracle for triples rewritten through the canonical map + dedup."""
    tri = triples_sql()
    # reuse the full triples query as a CTE; it already defines `nodes`
    body = tri[len("WITH "):]
    head, tail = body.rsplit("SELECT DISTINCT doc_id, subj, pred, obj FROM resolved", 1)
    assert tail == ""
    return f"""
WITH {head.rstrip()},
tri AS (SELECT DISTINCT doc_id, subj, pred, obj FROM resolved),
labs AS (SELECT DISTINCT label FROM nodes),
cmap AS (
    SELECT label, min(label) OVER (PARTITION BY {_stem_sql('label')}) AS canonical_label
    FROM labs
)
SELECT DISTINCT t.doc_id,
       coalesce(cs.canonical_label, t.subj) AS subj,
       t.pred,
       coalesce(co.canonical_label, t.obj) AS obj
FROM tri t
LEFT JOIN cmap cs ON cs.label = t.subj
LEFT JOIN cmap co ON co.label = t.obj
""".strip()


# ---------------------------------------------------------------------------
# training-data pipeline extras (raw documents table)
# ---------------------------------------------------------------------------

def _duck_shingles(n: int = 3) -> str:
    return (
        f"CASE WHEN len(str_split(text, ' ')) < {n} THEN []::VARCHAR[] "
        f"ELSE list_distinct(list_transform(range(1, len(str_split(text, ' ')) - {n - 1} + 1), "
        f"i -> array_to_string(list_slice(str_split(text, ' '), i, i + {n - 1}), ' '))) END"
    )


def dedup_exact_sql() -> str:
    return f"""
WITH h AS (SELECT doc_id, {duckdb_md5_60('text')} AS text_hash FROM documents),
g AS (SELECT text_hash, min(doc_id) AS canonical_doc_id, count(*) AS group_size
      FROM h GROUP BY 1)
SELECT doc_id, text_hash, canonical_doc_id, group_size FROM h JOIN g USING (text_hash)
""".strip()


_JACCARD_CTES = f"""
sh AS (
    SELECT doc_id, {duckdb_md5_60('shingle')} AS shingle_hash
    FROM (SELECT doc_id, unnest({_duck_shingles()}) AS shingle FROM documents)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.shingle_hash = b.shingle_hash AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jpairs AS (
    SELECT doc_a, doc_b, inter / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
""".strip()


def dedup_minhash_sql(
    num_hashes: int, bands: int, threshold: float, max_bucket: int
) -> str:
    from kgx.functions.hashing import minhash_derived

    rows = num_hashes // bands
    sig_cols = ",\n           ".join(
        f"min({minhash_derived('hs', s)}) AS s{s}" for s in range(num_hashes)
    )
    band_cases = "\n             ".join(
        f"WHEN {b} THEN md5(concat_ws('_', "
        + ", ".join(f"s{b * rows + r}::VARCHAR" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return f"""
WITH {_JACCARD_CTES},
shw AS (SELECT doc_id, {duckdb_md5_60('shingle')} AS hs
        FROM (SELECT doc_id, unnest({_duck_shingles()}) AS shingle FROM documents)),
sig AS (
    SELECT doc_id,
           {sig_cols}
    FROM shw GROUP BY doc_id
),
banded AS (
    SELECT doc_id, band,
           CASE band
             {band_cases}
           END AS band_hash
    FROM sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band)
),
small AS (
    SELECT band, band_hash FROM banded
    GROUP BY band, band_hash HAVING count(*) <= {max_bucket}
),
capped AS (SELECT b.* FROM banded b JOIN small USING (band, band_hash)),
cands AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM capped x
    JOIN capped y ON x.band = y.band AND x.band_hash = y.band_hash
                 AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, jaccard
FROM cands JOIN jpairs USING (doc_a, doc_b)
WHERE jaccard >= {threshold}
""".strip()


def dedup_clusters_sql(
    num_hashes: int, bands: int, threshold: float, max_bucket: int
) -> str:
    """Oracle for corpus near-dup clustering: the MinHash-LSH pair query as a
    CTE, then connected components via a recursive reachability CTE (min
    label over everything reachable == the engine's union-find/star result).
    Transitive closure is O(sum |C|^2) — fine at oracle scale, never the
    engine's plan."""
    base = dedup_minhash_sql(num_hashes, bands, threshold, max_bucket)
    body = base[len("WITH ") :]
    head, tail = body.rsplit("SELECT doc_a, doc_b, jaccard", 1)
    assert tail.strip().startswith("FROM cands")
    return f"""
WITH RECURSIVE {head.rstrip().rstrip(',')},
pairs AS (SELECT doc_a, doc_b, jaccard {tail.strip()}),
edges AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.v, r.lab FROM reach r JOIN edges e ON e.u = r.node
),
comp AS (SELECT node AS doc_id, min(lab) AS canonical_doc_id FROM reach GROUP BY node)
SELECT doc_id,
       canonical_doc_id,
       count(*) OVER (PARTITION BY canonical_doc_id) AS cluster_size,
       doc_id <> canonical_doc_id AS is_duplicate
FROM comp
""".strip()


def _duck_char_shingles(col: str, n: int = 3) -> str:
    """Distinct char n-gram shingles of '^^'||lower(col)||'$$' — mirror of
    kgx.operators.dedup.char_shingle_expr."""
    p = f"('^^' || lower({col}) || '$$')"
    return (
        f"list_distinct(list_transform(range(1, length({p}) - {n - 2}), "
        f"i -> substr({p}, i, {n})))"
    )


def _minhash_pairs_ctes(
    src: str,
    id_col: str,
    shingles: str,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket: int = 200,
) -> str:
    """CTE chunk ``mh_sh … mh_pairs(doc_a, doc_b, jaccard)``: md5-60 shingle
    hashes → universal-hash MinHash signatures → banded buckets with the
    ``max_bucket`` skew cap → exact-Jaccard-verified candidate pairs, over
    rows of table/CTE ``src``.  Mirror of kgx.operators.dedup.minhash_lsh_pairs
    for any (id, shingle-list) source."""
    from kgx.functions.hashing import minhash_derived

    rows = num_hashes // bands
    sig_cols = ",\n           ".join(
        f"min({minhash_derived('hs', s)}) AS s{s}" for s in range(num_hashes)
    )
    band_cases = "\n             ".join(
        f"WHEN {b} THEN md5(concat_ws('_', "
        + ", ".join(f"s{b * rows + r}::VARCHAR" for r in range(rows))
        + "))"
        for b in range(bands)
    )
    return f"""
mh_sh AS (
    SELECT mid, {duckdb_md5_60('shingle')} AS hs
    FROM (SELECT {id_col} AS mid, unnest({shingles}) AS shingle FROM {src})
),
mh_sizes AS (SELECT mid, count(*) AS n FROM mh_sh GROUP BY 1),
mh_sig AS (
    SELECT mid,
           {sig_cols}
    FROM mh_sh GROUP BY mid
),
mh_banded AS (
    SELECT mid, band,
           CASE band
             {band_cases}
           END AS band_hash
    FROM mh_sig CROSS JOIN (SELECT unnest(range(0, {bands})) AS band)
),
mh_small AS (
    SELECT band, band_hash FROM mh_banded
    GROUP BY band, band_hash HAVING count(*) <= {max_bucket}
),
mh_capped AS (SELECT b.* FROM mh_banded b JOIN mh_small USING (band, band_hash)),
mh_cands AS (
    SELECT DISTINCT x.mid AS doc_a, y.mid AS doc_b
    FROM mh_capped x
    JOIN mh_capped y ON x.band = y.band AND x.band_hash = y.band_hash
                    AND x.mid < y.mid
),
mh_inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter
    FROM mh_cands c
    JOIN mh_sh a ON a.mid = c.doc_a
    JOIN mh_sh b ON b.mid = c.doc_b AND b.hs = a.hs
    GROUP BY 1, 2
),
mh_pairs AS (
    SELECT doc_a, doc_b, inter / (sa.n + sb.n - inter) AS jaccard
    FROM mh_inter
    JOIN mh_sizes sa ON sa.mid = doc_a
    JOIN mh_sizes sb ON sb.mid = doc_b
)
""".strip()


def link_minhash_sql(min_jaccard: float) -> str:
    """Oracle for MinHash-LSH label-similarity candidates (SURVEY JN5) —
    char-shingle MinHash over the distinct extracted labels, verified with
    exact char-shingle Jaccard.  Same machinery as dedup_minhash, different
    shingle alphabet and id column."""
    body = _minhash_pairs_ctes("labs", "label", _duck_char_shingles("label"))
    return f"""
{_BASE},
{_NODES_CTES},
labs AS (SELECT DISTINCT label FROM nodes),
{body}
SELECT doc_a AS src_label, doc_b AS dst_label, jaccard
FROM mh_pairs WHERE jaccard >= {min_jaccard}
""".strip()


def binary_ingest_sql(max_doc_id: int) -> str:
    """Oracle for the S2/S3 binary ingest round-trip: the extracted text must
    equal the source document text modulo the reference's ``.strip()``
    (services.py:35-53) — for ALL FOUR real parser paths (kgxb container,
    txt, stdlib PDF, stdlib DOCX), with the format determined by the
    deterministic ``doc_id % 4`` fixture rotation
    (kgx.sources.binary.FIXTURE_FORMATS) — with the XML-illegal-text
    docx→pdf fallback mirrored (kgx.sources.binary.fixture_format): XML
    1.0 cannot carry C0 controls / \\r / #xFFFE / #xFFFF, so such
    documents are materialized as PDF instead."""
    return f"""
SELECT doc_id,
       CASE WHEN doc_id % 4 = 0 THEN 'kgxb'
            WHEN doc_id % 4 = 1 THEN 'txt'
            WHEN doc_id % 4 = 2 THEN 'pdf'
            WHEN regexp_matches(text,
                 '[\\x{{00}}-\\x{{08}}\\x{{0B}}\\x{{0C}}\\x{{0E}}-\\x{{1F}}\\x{{0D}}\\x{{FFFE}}\\x{{FFFF}}]')
                 THEN 'pdf'
            ELSE 'docx' END AS source_format,
       regexp_replace(text, '^\\s+|\\s+$', '', 'g') AS text
FROM documents WHERE doc_id < {max_doc_id}
""".strip()


# ---------------------------------------------------------------------------
# quality gate (kgx.operators.textstats)
# ---------------------------------------------------------------------------

def quality_filter_sql(
    min_tokens: int,
    max_tokens: int,
    min_mean_word_len: float,
    max_mean_word_len: float,
    max_symbol_ratio: float,
    min_unique_ratio: float,
    min_stop_hits: int,
    src: str,
) -> str:
    """Oracle for the Gopher/C4 composite quality gate — same rule order
    (QUALITY_RULES), same rational arithmetic, CASE-composed reasons."""
    from kgx.operators.textstats import EN_STOP_WORDS, QUALITY_RULES

    toks = "list_filter(str_split(text, ' '), t -> t <> '')"
    in_list = ", ".join(f"'{w}'" for w in EN_STOP_WORDS)
    conds = {
        "too_few_tokens": f"n_tokens < {min_tokens}",
        "too_many_tokens": f"n_tokens > {max_tokens}",
        "short_words": f"token_chars / n_tokens < {min_mean_word_len}",
        "long_words": f"token_chars / n_tokens > {max_mean_word_len}",
        "symbol_heavy": f"punct / n_tokens > {max_symbol_ratio}",
        "repetitive": f"uniq / n_tokens < {min_unique_ratio}",
        "no_stop_words": f"stop_hits < {min_stop_hits}",
    }
    cases = ",\n        ".join(
        f"CASE WHEN {conds[name]} THEN '{name}' END" for name in QUALITY_RULES
    )
    return f"""
WITH t AS (
    SELECT doc_id,
           CAST(len({toks}) AS BIGINT) AS n_tokens,
           CAST(length(array_to_string({toks}, '')) AS BIGINT) AS token_chars,
           CAST(len(list_distinct({toks})) AS BIGINT) AS uniq,
           CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS punct,
           CAST(len(list_filter({toks}, t -> t IN ({in_list}))) AS BIGINT) AS stop_hits
    FROM {src}
),
t2 AS (SELECT * FROM t WHERE n_tokens > 0),
r AS (
    SELECT *,
           coalesce(array_to_string(list_filter([
        {cases}
    ], x -> x IS NOT NULL), ','), '') AS fail_reasons
    FROM t2
)
SELECT doc_id,
       n_tokens,
       token_chars / n_tokens AS mean_word_len,
       punct / n_tokens AS symbol_ratio,
       uniq / n_tokens AS unique_ratio,
       stop_hits,
       fail_reasons = '' AS passes,
       fail_reasons
FROM r
""".strip()


# ---------------------------------------------------------------------------
# interleaved media spans (kgx.operators.media)
# ---------------------------------------------------------------------------

def media_inventory_sql() -> str:
    h = duckdb_md5_60("media_ref")
    return f"""
{_BASE},
per_chunk AS (
    SELECT doc_id, did,
           unnest(chunks) AS chunk,
           generate_subscripts(chunks, 1) - 1 AS ci
    FROM chunked
),
sp AS (
    SELECT doc_id, ci, 0 AS sub, 'text' AS kind, chunk AS text, '' AS media_ref
    FROM per_chunk
    UNION ALL
    SELECT doc_id, ci, 1, 'media', '',
           's3://media/doc-' || did || '-' || ci ||
           (CASE (did + ci) % 3 WHEN 0 THEN '.png' WHEN 1 THEN '.mp4' ELSE '.wav' END)
    FROM per_chunk WHERE (did + ci) % 5 = 2
),
flat AS (
    SELECT doc_id, kind, media_ref,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ci, sub) - 1 AS INT)
               AS span_pos
    FROM sp
)
SELECT doc_id, span_pos, media_ref,
       CASE WHEN media_ref LIKE '%.png' OR media_ref LIKE '%.jpg' THEN 'image'
            WHEN media_ref LIKE '%.mp4' THEN 'video'
            WHEN media_ref LIKE '%.wav' OR media_ref LIKE '%.mp3' THEN 'audio'
            ELSE 'binary' END AS media_type,
       CAST({h} % 10000000 AS BIGINT) AS byte_size,
       CAST(({h} % 1920) + 1 AS INT) AS width,
       CAST(({h} % 1080) + 1 AS INT) AS height
FROM flat WHERE kind = 'media'
""".strip()


# ---------------------------------------------------------------------------
# JSON ops / validation / CSV-prose (SURVEY §2.4 J1-J3, §2.2 P7-P9, §2.1 S5)
# ---------------------------------------------------------------------------

def props_parse_sql() -> str:
    return (
        "SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k FROM events"
    )


#: deterministic graph-JSON construction shared by engine and oracle; the
#: edge target cycles n1/n2/n3 so exactly 1 of 3 variants fails endpoint
#: validation (n3 does not exist)
GRAPH_JSON_EXPR = (
    "'{{\"nodes\":[{{\"id\":\"n1\",\"label\":\"L' || {k} || '\"}},"
    "{{\"id\":\"n2\",\"label\":\"M\",\"type\":\"Person\"}}],"
    "\"edges\":[{{\"source\":\"n1\",\"target\":\"n' || (({k}) % 3 + 1) || '\"}}]}}'"
)


def graph_coercion_sql() -> str:
    k = "CAST(json_extract(props, '$.k') AS INT)"
    return f"""
SELECT event_id,
       2 AS n_nodes,
       CASE WHEN ({k}) % 3 + 1 = 3 THEN 0 ELSE 1 END AS n_edges,
       'Entity,Person' AS node_types,
       CASE WHEN ({k}) % 3 + 1 = 3 THEN '' ELSE 'related_to' END AS rels
FROM events
""".strip()


#: deterministic broken-JSON construction shared by engine and oracle —
#: prose prefix, bare key, bare value, trailing commas in array and object
BROKEN_JSON_EXPR = (
    "concat('Reply: {k: ', cast({k} as string), "
    "', name: acme widgets, tags: [\"a\",\"b\",],}')"
)


def json_repair_sql() -> str:
    from kgx.operators.jsonio import repair_json_expr

    k = "CAST(json_extract(props, '$.k') AS INT)"
    broken = BROKEN_JSON_EXPR.replace("{k}", k).replace("cast(", "CAST(").replace(" as string", " AS VARCHAR")
    repaired = repair_json_expr("broken", dialect="duckdb")
    return f"""
WITH b AS (SELECT event_id, {broken} AS broken FROM events),
r AS (SELECT event_id, {repaired} AS fixed FROM b)
SELECT event_id,
       json_extract_string(fixed, '$.k') AS k_str,
       json_extract_string(fixed, '$.name') AS name,
       array_to_string(CAST(json_extract(fixed, '$.tags') AS VARCHAR[]), '|') AS tags
FROM r
""".strip()


_P10_VARIANT = """
CASE span_pos % 4
  WHEN 0 THEN media_ref
  WHEN 1 THEN regexp_replace(media_ref, '{dot}png$', '.exe'{flag})
  WHEN 2 THEN media_ref || '/../steal.png'
  ELSE regexp_replace(media_ref, '{dot}png$', '.xyz'{flag})
END
""".strip()


def media_security_sql() -> str:
    from kgx.operators.security import ALLOWED_EXTENSIONS, DANGEROUS_EXTENSIONS

    allowed = ", ".join(f"'{e}'" for e in ALLOWED_EXTENSIONS)
    dangerous = ", ".join(f"'{e}'" for e in DANGEROUS_EXTENSIONS)
    variant = _P10_VARIANT.format(dot=r"\.", flag="")
    inv = media_inventory_sql()
    return f"""
WITH inv AS (
{inv}
),
refs AS (SELECT doc_id, span_pos, {variant} AS ref FROM inv),
cls AS (
    SELECT doc_id, span_pos, ref,
           lower(regexp_extract(ref, '\\.([A-Za-z0-9]+)$', 1)) AS ext,
           regexp_matches(ref, '(\\.\\.|%00|%2e%2e)') AS is_suspicious
    FROM refs
)
SELECT doc_id, span_pos, ref, ext,
       ext IN ({allowed}) AS is_allowed,
       ext IN ({dangerous}) AS is_dangerous,
       is_suspicious,
       (ext IN ({allowed}) AND NOT ext IN ({dangerous}) AND NOT is_suspicious)
           AS accepted
FROM cls
""".strip()


def graph_checks_sql() -> str:
    """Per-doc validation metrics (P7-P9) recomputed from the extraction
    CTEs, with the caps of kgx.operators.validate; every narrative doc
    satisfies them, so is_valid must be TRUE everywhere while the metric
    columns vary per doc."""
    tri = triples_sql()
    body = tri[len("WITH "):]
    head, tail = body.rsplit("SELECT DISTINCT doc_id, subj, pred, obj FROM resolved", 1)
    assert tail == ""
    return f"""
WITH {head.rstrip()},
tri AS (SELECT DISTINCT doc_id, subj, pred, obj FROM resolved),
node_stats AS (
    SELECT doc_id, count(*) AS n_nodes, max(length(label)) AS max_label_len,
           max(length(node_id)) AS max_id_len,
           max(length({_node_type_case()})) AS max_type_len
    FROM nodes GROUP BY doc_id
),
edge_stats AS (
    SELECT doc_id, count(*) AS n_edges, max(length(pred)) AS max_rel_len
    FROM tri GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(ns.n_nodes, 0) AS INT) AS n_nodes,
       CAST(coalesce(es.n_edges, 0) AS INT) AS n_edges,
       CAST(coalesce(ns.max_label_len, 0) AS INT) AS max_label_len,
       TRUE AS unique_node_ids,
       TRUE AS unique_edges,
       (coalesce(ns.n_nodes, 0) <= {validate.MAX_NODES}
        AND coalesce(es.n_edges, 0) <= {validate.MAX_EDGES}
        AND coalesce(ns.max_label_len, 0) <= {validate.MAX_LABEL}
        AND coalesce(ns.max_id_len, 0) <= {validate.MAX_NODE_ID}
        AND coalesce(ns.max_type_len, 0) <= {validate.MAX_TYPE}
        AND coalesce(es.max_rel_len, 0) <= {validate.MAX_REL}) AS is_valid
FROM doctext d
LEFT JOIN node_stats ns USING (doc_id)
LEFT JOIN edge_stats es USING (doc_id)
""".strip()


def csv_prose_sql(rows_per_doc: int) -> str:
    return f"""
WITH lines AS (
    SELECT c_custkey // {rows_per_doc} AS prose_doc_id, c_custkey,
           concat_ws(', ', CAST(c_custkey AS VARCHAR), c_name,
                     CAST(c_nationkey AS VARCHAR), CAST(c_acctbal AS VARCHAR),
                     c_mktsegment) AS line
    FROM customer
)
SELECT prose_doc_id,
       string_agg(line, chr(10) ORDER BY c_custkey) AS text
FROM lines GROUP BY prose_doc_id
""".strip()


# ---------------------------------------------------------------------------
# relational operator family (windows / joins / aggregations; SURVEY §2.5-2.8)
# ---------------------------------------------------------------------------

def latest_event_sql() -> str:
    return """
SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
""".strip()


def retention_tail_sql(keep: int) -> str:
    return f"""
SELECT user_id, event_id
FROM (
    SELECT user_id, event_id,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn > {keep}
""".strip()


def user_type_stats_sql() -> str:
    return """
SELECT user_id, event_type,
       count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       (CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / CAST(100.0 AS DOUBLE)) / count(*) AS avg_value
FROM events GROUP BY user_id, event_type
""".strip()


def customers_no_orders_sql() -> str:
    return """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
""".strip()


def customers_with_orders_sql() -> str:
    return """
SELECT DISTINCT c_custkey FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
""".strip()


def latest_order_sql() -> str:
    return """
SELECT o_custkey, max(o_orderkey) AS max_orderkey, count(*) AS n_orders
FROM orders GROUP BY o_custkey
""".strip()


def pricing_summary_sql() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       CAST(sum(CAST(round(l_discount * 10000) AS BIGINT)) AS BIGINT) AS disc_bp
FROM lineitem GROUP BY l_returnflag, l_linestatus
""".strip()


def _triples_ctes() -> str:
    """CTE chain ``sentences … resolved`` (assumes _BASE + _NODES_CTES are in
    scope).  Shared by triples_sql and graph_fetch_sql."""
    two_group = [
        (rx, rel)
        for rx, rel in rules.RELATION_PATTERN_SPECS
        if rx.count("(") - rx.count("(?:") == 2
    ]
    three_group = [
        (rx, rel)
        for rx, rel in rules.RELATION_PATTERN_SPECS
        if rx.count("(") - rx.count("(?:") == 3
    ]
    assert len(two_group) + len(three_group) == len(rules.RELATION_PATTERN_SPECS)
    # one UNION ALL branch per pattern, each with a CONSTANT regex literal:
    # a (sent CROSS JOIN pats) formulation passes the pattern as a column,
    # which defeats DuckDB's compiled-regex cache — it recompiled the big
    # alternation per ROW (profiled 22 s for 8.9k sentences × 14 patterns at
    # sf0.01; constant literals run the same match in ~1 s)
    branches = "\n    UNION ALL\n".join(
        f"""    SELECT doc_id, '{rel}' AS rel,
           unnest(regexp_extract_all(sentence, '(?i){rx}', 1)) AS src_label,
           unnest(regexp_extract_all(sentence, '(?i){rx}', 2)) AS dst_label
    FROM sent"""
        for rx, rel in two_group
    )
    f3 = f"'(?i){three_group[0][0]}'"
    f3_rel = f"'{three_group[0][1]}'"
    return f"""
sentences AS (
    SELECT doc_id,
           regexp_replace(unnest(regexp_split_to_array(text, '[.!?]+')),
                          '^\\s+|\\s+$', '', 'g') AS sentence
    FROM doctext
),
sent AS MATERIALIZED (SELECT doc_id, sentence FROM sentences WHERE sentence <> ''),
cand2 AS (
{branches}
),
cand3m AS (
    SELECT doc_id,
           unnest(regexp_extract_all(sentence, {f3}, 1)) AS g1,
           unnest(regexp_extract_all(sentence, {f3}, 2)) AS g2,
           unnest(regexp_extract_all(sentence, {f3}, 3)) AS g3
    FROM sent
),
cand AS (
    SELECT doc_id, rel, src_label, dst_label FROM cand2
    UNION ALL
    SELECT doc_id, {f3_rel}, g1, g2 FROM cand3m
    UNION ALL
    SELECT doc_id, 'located_in', g2, g3 FROM cand3m
),
resolved AS MATERIALIZED (
    SELECT c.doc_id, sn.label AS subj, c.rel AS pred, tn.label AS obj,
           sn.node_id AS src_id, tn.node_id AS dst_id
    FROM cand c
    JOIN nodes sn ON sn.doc_id = c.doc_id
                 AND lower(sn.label) = lower(c.src_label)
    JOIN nodes tn ON tn.doc_id = c.doc_id
                 AND lower(tn.label) = lower(c.dst_label)
    WHERE sn.node_id <> tn.node_id
)
""".strip()


def triples_sql() -> str:
    """Oracle for label-resolved (subj, pred, obj) triples — the P/R unit."""
    return f"""
{_BASE},
{_NODES_CTES},
{_triples_ctes()}
SELECT DISTINCT doc_id, subj, pred, obj FROM resolved
""".strip()


def media_decode_real_sql() -> str:
    """Oracle for the LIVE BMP/PPM decode: blob synthesis derives every
    property (dims, solid fill color, container format) from the shared
    md5-60 hash of media_ref (kgx.operators.media.synthesize_media_blobs),
    so the decoded-back values are recomputable without touching bytes —
    the Spark side must round-trip encode → Arrow binary column → stdlib
    parse to produce them."""
    inv = media_inventory_sql()
    h = duckdb_md5_60("media_ref")
    return f"""
WITH inv AS (
{inv}
)
SELECT doc_id, media_ref,
       CASE WHEN {h} % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
       CAST(1 + {h} % 31 AS INT) AS width,
       CAST(1 + ({h} // 31) % 23 AS INT) AS height,
       CAST({h} % 256 AS INT) AS mean_r,
       CAST(({h} // 256) % 256 AS INT) AS mean_g,
       CAST(({h} // 65536) % 256 AS INT) AS mean_b
FROM inv
""".strip()


def audio_decode_real_sql() -> str:
    """Oracle for the LIVE WAV decode: blob synthesis derives every audio
    property from the shared md5-60 hash of media_ref
    (kgx.operators.media.synthesize_audio_blobs) — mono/stereo by parity,
    ``160 + h % 800`` frames at 8 kHz, square-wave amplitude
    ``1000 + (h // 7) % 20000`` (so peak == mean_abs == A exactly).  The
    Spark side must round-trip encode → Arrow binary column → stdlib RIFF
    parse to produce these values."""
    inv = media_inventory_sql()
    h = duckdb_md5_60("media_ref")
    return f"""
WITH inv AS (
{inv}
),
a AS (
    SELECT doc_id, media_ref, {h} AS h
    FROM inv WHERE media_type = 'audio'
)
SELECT doc_id, media_ref,
       CAST(1 + h % 2 AS INT) AS channels,
       CAST(8000 AS INT) AS sample_rate,
       CAST(160 + h % 800 AS INT) AS n_frames,
       CAST((160 + h % 800) * 1000 // 8000 AS BIGINT) AS duration_ms,
       CAST(1000 + (h // 7) % 20000 AS INT) AS peak,
       CAST(1000 + (h // 7) % 20000 AS INT) AS mean_abs
FROM a
""".strip()


def media_resize_real_sql(max_w: int, max_h: int) -> str:
    """Oracle for the LIVE thumbnail loop: target dims replay the shared
    aspect-fit integer formula (kgx.operators.media._aspect_fit) over the
    synthesized dims ``1 + h % 31`` × ``1 + (h DIV 31) % 23``; thumb
    channel means equal the solid fill because nearest-neighbor resampling
    only selects existing pixels.  The Spark side must run decode →
    resample → re-encode → re-decode on real bytes to produce them."""
    inv = media_inventory_sql()
    h = duckdb_md5_60("media_ref")
    return f"""
WITH inv AS (
{inv}
),
m AS (
    SELECT doc_id, media_ref, {h} AS h FROM inv
),
d AS (
    SELECT doc_id, media_ref, h,
           1 + h % 31 AS w,
           1 + (h // 31) % 23 AS ht
    FROM m
)
SELECT doc_id, media_ref,
       CASE WHEN h % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS format,
       CAST(w AS INT) AS width,
       CAST(ht AS INT) AS height,
       CAST(CASE WHEN w <= {max_w} AND ht <= {max_h} THEN w
                 WHEN w * {max_h} >= ht * {max_w} THEN {max_w}
                 ELSE greatest(1, (w * {max_h}) // ht) END AS INT)
           AS out_width,
       CAST(CASE WHEN w <= {max_w} AND ht <= {max_h} THEN ht
                 WHEN w * {max_h} >= ht * {max_w}
                     THEN greatest(1, (ht * {max_w}) // w)
                 ELSE {max_h} END AS INT) AS out_height,
       CAST(h % 256 AS INT) AS mean_r,
       CAST((h // 256) % 256 AS INT) AS mean_g,
       CAST((h // 65536) % 256 AS INT) AS mean_b
FROM d
""".strip()


def _video_params_cte() -> str:
    """inv → per-video derivation shared by the two live-video oracles:
    mirrors kgx.operators.media.synthesize_video_blobs (width
    ``1 + h % 15``, height ``1 + (h DIV 31) % 11``, fps from the
    1000-divisor table by ``h % 6``, ``2 + (h DIV 7) % 9`` frames; frame
    ``i`` solid fill ``((h + 37 i) % 256, (h DIV 256 + 53 i) % 256,
    (h DIV 65536 + 71 i) % 256)``)."""
    inv = media_inventory_sql()
    h = duckdb_md5_60("media_ref")
    return f"""
WITH inv AS (
{inv}
),
v AS (
    SELECT doc_id, media_ref, {h} AS h
    FROM inv WHERE media_type = 'video'
),
p AS (
    SELECT doc_id, media_ref, h,
           1 + h % 15 AS width,
           1 + (h // 31) % 11 AS height,
           ([4, 5, 8, 10, 20, 25])[CAST(h % 6 AS INT) + 1] AS fps,
           2 + (h // 7) % 9 AS n
    FROM v
)
""".strip()


def video_decode_real_sql() -> str:
    """Oracle for the LIVE AVI decode: every container feature is
    recomputed from the shared md5-60 derivation, and the whole-video
    channel means reduce exactly — solid per-frame fills make the
    per-pixel count cancel, leaving ``sum(color_i) // n``, evaluated here
    as a list fold over ``range(n)``.  The Spark side must round-trip
    encode → Arrow binary column → stdlib RIFF/AVI parse to produce
    these values."""
    return f"""
{_video_params_cte()}
SELECT doc_id, media_ref,
       'avi' AS format,
       CAST(width AS INT) AS width,
       CAST(height AS INT) AS height,
       CAST(fps AS INT) AS fps,
       CAST(n AS INT) AS n_frames,
       CAST(n * 1000 // fps AS BIGINT) AS duration_ms,
       CAST(list_sum(list_transform(range(0, CAST(n AS INT)),
            i -> (h + 37 * i) % 256)) // n AS INT) AS mean_r,
       CAST(list_sum(list_transform(range(0, CAST(n AS INT)),
            i -> (h // 256 + 53 * i) % 256)) // n AS INT) AS mean_g,
       CAST(list_sum(list_transform(range(0, CAST(n AS INT)),
            i -> (h // 65536 + 71 * i) % 256)) // n AS INT) AS mean_b
FROM p
""".strip()


def video_frames_real_sql() -> str:
    """Oracle for the LIVE 1→N frame explode: one row per (video, frame)
    with ``ts_ms = i * 1000 // fps`` and the frame's solid-fill channel
    means from the shared derivation."""
    return f"""
{_video_params_cte()},
f AS (
    SELECT doc_id, media_ref, h, fps,
           unnest(range(0, CAST(n AS INT))) AS i
    FROM p
)
SELECT doc_id, media_ref,
       CAST(i AS INT) AS frame_idx,
       CAST(i * 1000 // fps AS BIGINT) AS ts_ms,
       CAST((h + 37 * i) % 256 AS INT) AS mean_r,
       CAST((h // 256 + 53 * i) % 256 AS INT) AS mean_g,
       CAST((h // 65536 + 71 * i) % 256 AS INT) AS mean_b
FROM f
""".strip()


def llm_edges_sql() -> str:
    """Oracle for the LLM fake-responder path (S7/S8 → J1 fence strip → J1
    parse → J3 coercion → P4 endpoint validation): the deterministic fake
    serializes the rule engine's graph, so the round-tripped edge table must
    equal the rule extraction's node-id edges exactly."""
    return f"""
{_BASE},
{_NODES_CTES},
{_triples_ctes()}
SELECT DISTINCT doc_id, src_id AS src, dst_id AS dst, pred AS relationship
FROM resolved
""".strip()


def graph_fetch_sql() -> str:
    """Oracle for the JN2 star join + A4 list assembly (reference
    database_service.py:175-235 ``get_document_graph_optimized``): every
    document joined to its node and triple sets, arrays assembled in sorted
    order, empty graphs preserved with zero counts."""
    return f"""
{_BASE},
{_NODES_CTES},
{_triples_ctes()},
trip AS (SELECT DISTINCT doc_id, subj, pred, obj FROM resolved),
node_agg AS (
    SELECT doc_id,
           count(*) AS n_nodes,
           string_agg(node_id || ':' || label, '|' ORDER BY rnk) AS node_list
    FROM nodes GROUP BY doc_id
),
trip_agg AS (
    SELECT doc_id,
           count(*) AS n_triples,
           string_agg(subj || '>' || pred || '>' || obj, '|'
                      ORDER BY subj || '>' || pred || '>' || obj) AS triple_list
    FROM trip GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n.n_nodes, 0) AS n_nodes,
       COALESCE(n.node_list, '') AS node_list,
       COALESCE(t.n_triples, 0) AS n_triples,
       COALESCE(t.triple_list, '') AS triple_list
FROM doctext d
LEFT JOIN node_agg n USING (doc_id)
LEFT JOIN trip_agg t USING (doc_id)
""".strip()


def bucket_metrics_sql() -> str:
    """Oracle for per-bucket lineage metrics (SURVEY A7): docs / nodes /
    edges / triples per md5-60-derived bucket.  Edges align 1:1 with
    label-resolved triples (rules.extract_document), so both counts derive
    from the triple set."""
    bucket = f"CAST({duckdb_md5_60('d.doc_id')} % 8 AS INT)"
    return f"""
{_BASE},
{_NODES_CTES},
{_triples_ctes()},
trip AS (SELECT DISTINCT doc_id, subj, pred, obj FROM resolved),
nc AS (SELECT doc_id, count(*) AS n_nodes FROM nodes GROUP BY 1),
tc AS (SELECT doc_id, count(*) AS n_trip FROM trip GROUP BY 1)
SELECT {bucket} AS bucket,
       count(*) AS docs,
       CAST(sum(COALESCE(nc.n_nodes, 0)) AS BIGINT) AS nodes,
       CAST(sum(COALESCE(tc.n_trip, 0)) AS BIGINT) AS edges,
       CAST(sum(COALESCE(tc.n_trip, 0)) AS BIGINT) AS triples
FROM doctext d
LEFT JOIN nc USING (doc_id)
LEFT JOIN tc USING (doc_id)
GROUP BY 1
""".strip()


def scalar_suite_sql() -> str:
    """Oracle for the §2.9 scalar-function family (sha2/md5/substr/
    regexp_replace sanitizer/concat_ws update/trim+lower) over raw documents."""
    return r"""
SELECT doc_id,
       sha256(text) AS sha256_hex,
       md5(text) AS md5_hex,
       CAST(length(substr(text, 1, 2000)) AS INT) AS prompt_chars,
       md5(regexp_replace(text, '[^A-Za-z0-9 ]', '_', 'g')) AS sanitized_md5,
       CAST(length(concat_ws(chr(10), text, 'appended update text')) AS INT)
           AS updated_chars,
       lower(trim(substr(text, 1, 40))) AS head_norm
FROM documents
""".strip()


def text_gate_sql() -> str:
    """Oracle for the P6/P8 text predicates (empty short-circuit, 1 MB cap)
    over documents with deterministically planted empty / whitespace-only /
    oversize variants."""
    return """
WITH variant AS (
    SELECT doc_id,
           CASE
             WHEN doc_id % 31 = 7 THEN '   '
             WHEN doc_id % 31 = 13 THEN ''
             WHEN doc_id % 31 = 1 THEN text || repeat('x', 1000001)
             ELSE text
           END AS t
    FROM documents
)
SELECT doc_id,
       CASE
         WHEN length(trim(t)) = 0 THEN 'empty'
         WHEN length(t) > 1000000 THEN 'oversize'
         ELSE 'valid'
       END AS gate,
       CAST(length(t) AS BIGINT) AS n_chars
FROM variant
""".strip()


# ---------------------------------------------------------------------------
# corpus curation (kgx.operators.curation)
# ---------------------------------------------------------------------------

def pii_scrub_sql() -> str:
    """Oracle for the PII redaction cascade over the planted-PII fixture
    (mirror of kgx.operators.curation.pii_scrub + pii_fixture_expr; the
    fixture suffix is literally the SAME SQL string both engines execute)."""
    from kgx.operators.curation import PII_PATTERNS, pii_fixture_expr

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    clean = "text"
    for _, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return f"""
WITH fixture AS (SELECT doc_id, {pii_fixture_expr()} AS text FROM documents),
scrubbed AS (
    SELECT doc_id,
       {counts},
       {clean} AS clean_text
    FROM fixture
)
SELECT doc_id, {", ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)},
       CAST({total} AS BIGINT) AS n_pii, clean_text
FROM scrubbed
""".strip()


#: twin of kgx.operators.curation._SENT_EXPR (DuckDB literals are not
#: unescaped, so the pattern goes in as written)
_DUCK_SENTS = (
    "list_filter(list_transform(string_split_regex(text, "
    f"'{curation.SENT_SPLIT_RX}'), s -> trim(s)), s -> s <> '')"
)


def sentence_prune_sql() -> str:
    """Oracle for keep-first-occurrence sentence dedup (mirror of
    kgx.operators.curation.sentence_prune: 0-based sentence index, order key
    doc_id * 2^20 + idx, min-key instance survives, original-order rejoin
    with '. ')."""
    return f"""
WITH {NARRATIVE_CTE},
sd AS (
    SELECT doc_id,
           {_DUCK_SENTS} AS sents
    FROM narrative
),
inst AS (
    SELECT doc_id, u.x.i AS idx,
           {duckdb_md5_60("lower(u.x.s)")} AS h,
           doc_id * 1048576 + u.x.i AS k
    FROM (SELECT doc_id,
                 unnest(list_transform(range(0, len(sents)),
                                       i -> {{'i': i, 's': sents[i + 1]}})) AS x
          FROM sd) u(doc_id, x)
),
first_occ AS (SELECT h, min(k) AS k_min FROM inst GROUP BY 1),
kept AS (
    SELECT i.doc_id, i.idx
    FROM inst i JOIN first_occ f ON i.h = f.h AND i.k = f.k_min
),
agg AS (SELECT doc_id, list_sort(list(idx)) AS kept_idx FROM kept GROUP BY 1)
SELECT d.doc_id,
       CAST(len(d.sents) AS BIGINT) AS n_sentences,
       CAST(coalesce(len(a.kept_idx), 0) AS BIGINT) AS n_kept,
       coalesce(array_to_string(
           list_transform(coalesce(a.kept_idx, []::BIGINT[]),
                          i -> d.sents[i + 1]), '. '), '') AS pruned_text
FROM sd d LEFT JOIN agg a USING (doc_id)
WHERE len(d.sents) > 0
""".strip()


def curation_funnel_sql(
    min_tokens: int = 20,
    max_symbol_ratio: float = 0.2,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket: int = 200,
) -> str:
    """Oracle for the END-TO-END curation funnel over the narrative corpus
    (mirror of kgx.plans.curation_pipeline.funnel_final): quality gate →
    exact dedup keep-min-doc_id → MinHash-LSH near-dup connected-components
    keep-one → PII scrub chain → keep-first sentence prune.  Each stage CTE
    reuses the already-oracle-green per-stage SQL shape; the recursive
    reachability CTE replays the engine's union-find/star components."""
    from kgx.operators.curation import PII_PATTERNS

    quality = quality_filter_sql(
        min_tokens=min_tokens, max_tokens=100_000, min_mean_word_len=3.0,
        max_mean_word_len=10.0, max_symbol_ratio=max_symbol_ratio,
        min_unique_ratio=0.3, min_stop_hits=2, src="narrative",
    )
    mh = _minhash_pairs_ctes("e", "doc_id", _duck_shingles(3), num_hashes, bands, max_bucket)
    clean = "text"
    for _, pat, repl in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{repl}', 'g')"
    return f"""
WITH RECURSIVE {NARRATIVE_CTE},
qpass AS (SELECT doc_id FROM ({quality}) WHERE passes),
q AS (SELECT n.doc_id, n.text FROM narrative n JOIN qpass USING (doc_id)),
eh AS (SELECT doc_id, {duckdb_md5_60('text')} AS text_hash FROM q),
ekeep AS (SELECT min(doc_id) AS doc_id FROM eh GROUP BY text_hash),
e AS MATERIALIZED (SELECT q.* FROM q JOIN ekeep USING (doc_id)),
{mh},
ndpairs AS (SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= {threshold}),
edges AS MATERIALIZED (
    SELECT doc_a AS u, doc_b AS v FROM ndpairs
    UNION
    SELECT doc_b AS u, doc_a AS v FROM ndpairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM e
    UNION
    SELECT g.v, r.lab FROM reach r JOIN edges g ON g.u = r.node
),
comp AS (SELECT node AS doc_id, min(lab) AS canon FROM reach GROUP BY node),
nd AS (SELECT e.doc_id, e.text FROM e JOIN comp USING (doc_id) WHERE doc_id = canon),
pii AS (SELECT doc_id, {clean} AS text FROM nd),
sp_sd AS (
    SELECT doc_id,
           {_DUCK_SENTS} AS sents
    FROM pii
),
sp_inst AS (
    SELECT doc_id, u.x.i AS idx,
           {duckdb_md5_60("lower(u.x.s)")} AS h,
           doc_id * 1048576 + u.x.i AS k
    FROM (SELECT doc_id,
                 unnest(list_transform(range(0, len(sents)),
                                       i -> {{'i': i, 's': sents[i + 1]}})) AS x
          FROM sp_sd) u(doc_id, x)
),
sp_first AS (SELECT h, min(k) AS k_min FROM sp_inst GROUP BY 1),
sp_kept AS (
    SELECT i.doc_id, i.idx
    FROM sp_inst i JOIN sp_first f ON i.h = f.h AND i.k = f.k_min
),
sp_agg AS (SELECT doc_id, list_sort(list(idx)) AS kept_idx FROM sp_kept GROUP BY 1)
SELECT d.doc_id,
       array_to_string(list_transform(a.kept_idx, i -> d.sents[i + 1]),
                       '. ') AS text
FROM sp_sd d JOIN sp_agg a USING (doc_id)
WHERE len(a.kept_idx) > 0
""".strip()


def _graph_edges_ctes() -> str:
    """CTE chunk ``… gr_edges(subj, obj)``: the distinct global label edge
    list from the resolved triples (mirror of
    kgx.operators.graphstats.edge_list)."""
    return f"""
{_BASE},
{_NODES_CTES},
{_triples_ctes()},
gr_edges AS MATERIALIZED (SELECT DISTINCT subj, obj FROM resolved)
""".strip()


def graph_degrees_sql() -> str:
    """Oracle for KG degree statistics (mirror of
    kgx.operators.graphstats.degree_stats: distinct edges, full outer join
    of out/in counts)."""
    return f"""
{_graph_edges_ctes()},
outd AS (SELECT subj AS label, CAST(count(*) AS BIGINT) AS out_degree
         FROM gr_edges GROUP BY 1),
ind AS (SELECT obj AS label, CAST(count(*) AS BIGINT) AS in_degree
        FROM gr_edges GROUP BY 1)
SELECT coalesce(outd.label, ind.label) AS label,
       CAST(coalesce(out_degree, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(in_degree, 0) AS BIGINT) AS in_degree,
       CAST(coalesce(out_degree, 0) + coalesce(in_degree, 0) AS BIGINT) AS degree
FROM outd FULL OUTER JOIN ind ON outd.label = ind.label
""".strip()


def graph_pagerank_sql(iters: int, scale: int, damping_bp: int) -> str:
    """Oracle for integer-arithmetic PageRank (mirror of
    kgx.operators.graphstats.pagerank).  The iteration is UNROLLED into
    chained CTEs pr0..pr{iters} — generated SQL, no recursive aggregation
    (which standard SQL forbids in a recursive term).  All arithmetic is
    bigint floor division, so ranks match Spark bit-for-bit."""
    base = ((10000 - damping_bp) * scale) // 10000
    ctes = [
        f"gr_nodes AS MATERIALIZED (SELECT subj AS label FROM gr_edges "
        f"UNION SELECT obj FROM gr_edges)",
        f"gr_outdeg AS MATERIALIZED (SELECT subj AS label, "
        f"CAST(count(*) AS BIGINT) AS od FROM gr_edges GROUP BY 1)",
        f"pr0 AS (SELECT label, CAST({scale} AS BIGINT) AS rank FROM gr_nodes)",
    ]
    for i in range(iters):
        ctes.append(f"""
c{i} AS (
    SELECT e.obj AS label, sum(p.rank // o.od) AS s
    FROM gr_edges e
    JOIN pr{i} p ON p.label = e.subj
    JOIN gr_outdeg o ON o.label = e.subj
    GROUP BY 1
),
pr{i + 1} AS (
    SELECT n.label,
           CAST({base} + (({damping_bp} * coalesce(c.s, 0)) // 10000) AS BIGINT)
               AS rank
    FROM gr_nodes n LEFT JOIN c{i} c USING (label)
)
""".strip())
    joined = ",\n".join(ctes)
    return f"""
{_graph_edges_ctes()},
{joined}
SELECT label, rank FROM pr{iters}
""".strip()


def graph_label_prop_sql(iters: int) -> str:
    """Oracle for deterministic frequency-vote label propagation (mirror
    of kgx.operators.graphstats.label_propagation): undirected distinct
    edges, per round a neighbor-community count with a (votes DESC,
    community ASC) top-1 — the tie-break that makes textbook LPA
    deterministic — unrolled into chained CTEs lp0..lp{iters}."""
    ctes = [
        "lp_und AS MATERIALIZED (SELECT subj, obj FROM gr_edges UNION "
        "SELECT obj, subj FROM gr_edges)",
        "lp0 AS (SELECT DISTINCT subj AS node, subj AS community FROM lp_und)",
    ]
    for i in range(iters):
        ctes.append(f"""
lpv{i} AS (
    SELECT e.subj AS node, l.community, count(*) AS votes
    FROM lp_und e JOIN lp{i} l ON l.node = e.obj
    GROUP BY 1, 2
),
lp{i + 1} AS (
    SELECT node, community FROM (
        SELECT node, community,
               row_number() OVER (
                   PARTITION BY node ORDER BY votes DESC, community ASC
               ) AS rn
        FROM lpv{i}
    ) WHERE rn = 1
)
""".strip())
    joined = ",\n".join(ctes)
    return f"""
{_graph_edges_ctes()},
{joined}
SELECT node AS label, community FROM lp{iters}
""".strip()


def graph_kcore_sql(k: int, max_rounds: int) -> str:
    """Oracle for the capped k-core peel (mirror of
    kgx.operators.graphstats.kcore_fixpoint): undirected distinct edges,
    each round keeps only nodes with current degree >= k and the edges
    between survivors, unrolled into chained CTEs kc_e0..kc_e{max_rounds}
    (a round past the fixpoint changes nothing, so the engine's early stop
    agrees); output is the residual-graph degree of every surviving node."""
    ctes = [
        "kc_e0 AS MATERIALIZED (SELECT subj, obj FROM gr_edges UNION "
        "SELECT obj, subj FROM gr_edges)",
    ]
    for i in range(max_rounds):
        ctes.append(f"""
kc_k{i} AS (
    SELECT subj FROM kc_e{i} GROUP BY 1 HAVING count(*) >= {k}
),
kc_e{i + 1} AS (
    SELECT e.subj, e.obj FROM kc_e{i} e
    JOIN kc_k{i} a ON a.subj = e.subj
    JOIN kc_k{i} b ON b.subj = e.obj
)
""".strip())
    joined = ",\n".join(ctes)
    return f"""
{_graph_edges_ctes()},
{joined}
SELECT subj AS label, CAST(count(*) AS BIGINT) AS core_degree
FROM kc_e{max_rounds} GROUP BY 1
""".strip()


def _tri_cte_head() -> str:
    """The full triples oracle re-packaged as CTE chain + a materialized
    ``tri`` table (shared by the version-diff, SCD2 and negative-sampling
    oracles — one extraction replay, referenced many times)."""
    tri = triples_sql()
    body = tri[len("WITH "):]
    head, tail = body.rsplit(
        "SELECT DISTINCT doc_id, subj, pred, obj FROM resolved", 1
    )
    assert tail == ""
    return (
        f"{head.rstrip()},\n"
        "tri AS MATERIALIZED (SELECT DISTINCT doc_id, subj, pred, obj FROM resolved)"
    )


def kg_version_diff_sql() -> str:
    """Oracle for the snapshot changelog (mirror of
    kgx.plans.versions.snapshot_diff over two simulated runs: the old run
    pre-dates the `acquired` pattern and misses the doc_id % 3 = 0 docs;
    the new run retired doc_id % 5 = 4): full outer join on the triple
    key, rows only in new are 'added', only in old are 'removed'."""
    return f"""
WITH {_tri_cte_head()},
vd_old AS (SELECT * FROM tri
           WHERE pred != 'acquired' AND CAST(substr(doc_id, 5) AS BIGINT) % 3 != 0),
vd_new AS (SELECT * FROM tri WHERE CAST(substr(doc_id, 5) AS BIGINT) % 5 != 4)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       coalesce(o.subj, n.subj) AS subj,
       coalesce(o.pred, n.pred) AS pred,
       coalesce(o.obj, n.obj) AS obj,
       CASE WHEN o.doc_id IS NULL THEN 'added' ELSE 'removed' END AS status
FROM vd_old o
FULL OUTER JOIN vd_new n
  ON o.doc_id = n.doc_id AND o.subj = n.subj
 AND o.pred = n.pred AND o.obj = n.obj
WHERE o.doc_id IS NULL OR n.doc_id IS NULL
""".strip()


def kg_negative_samples_sql(k: int, buckets: int) -> str:
    """Oracle for hash-bucketed negative sampling (mirror of
    kgx.operators.graphstats.negative_samples): md5-60 of
    subj|pred|obj|j picks bucket and in-bucket rank over the
    label-ordered numbered node table; accidental positives dropped."""
    h = duckdb_md5_60("concat_ws('|', subj, pred, obj, CAST(j AS VARCHAR))")
    js = "\n    UNION ALL ".join(f"SELECT {j} AS j" for j in range(k))
    return f"""
WITH {_tri_cte_head()},
ns_tri AS (SELECT DISTINCT subj, pred, obj FROM tri),
ns_nodes AS (
    SELECT label, {duckdb_md5_60('label')} % {buckets} AS bucket
    FROM (SELECT subj AS label FROM ns_tri UNION SELECT obj FROM ns_tri)
),
ns_num AS MATERIALIZED (
    SELECT label, bucket,
           row_number() OVER (PARTITION BY bucket ORDER BY label) - 1 AS idx
    FROM ns_nodes
),
ns_sizes AS (SELECT bucket, count(*) AS bsize FROM ns_num GROUP BY 1),
ns_j AS ({js}),
ns_cand AS (
    SELECT subj, pred, obj, j, h % {buckets} AS bucket, h // {buckets} AS rest
    FROM (SELECT subj, pred, obj, j, {h} AS h FROM ns_tri CROSS JOIN ns_j)
),
ns_pick AS (
    SELECT c.subj, c.pred, c.obj, c.j, c.bucket, c.rest % s.bsize AS idx
    FROM ns_cand c JOIN ns_sizes s USING (bucket)
)
SELECT p.subj, p.pred, p.obj, CAST(p.j AS BIGINT) AS sample_idx,
       n.label AS neg_obj
FROM ns_pick p JOIN ns_num n USING (bucket, idx)
WHERE n.label <> p.obj
""".strip()


def kg_training_pairs_sql(k: int, buckets: int) -> str:
    """Oracle for the composed KG-embedding training set (mirror of
    kgx.operators.graphstats.training_pairs): distinct positives UNION
    ALL the replayed negative samples with is_positive labels, negatives
    anti-joined against the FULL positive set (the "filtered" setting —
    mirrors the Spark left_anti on (subj, pred, obj)).  Reuses the
    negatives oracle verbatim as a CTE body."""
    neg = kg_negative_samples_sql(k=k, buckets=buckets)
    body = neg[len("WITH "):]
    head, tail = body.rsplit("SELECT p.subj, p.pred, p.obj", 1)
    rest = tail[tail.index("WHERE n.label <> p.obj") + len("WHERE n.label <> p.obj"):]
    assert rest.strip() == "", rest
    return f"""
WITH {head.rstrip().rstrip(",")},
tp_neg AS (
    SELECT p.subj, p.pred, n.label AS obj
    FROM ns_pick p JOIN ns_num n USING (bucket, idx)
    WHERE n.label <> p.obj
      AND NOT EXISTS (
        SELECT 1 FROM ns_tri t
        WHERE t.subj = p.subj AND t.pred = p.pred AND t.obj = n.label
      )
)
SELECT subj, pred, obj, CAST(1 AS BIGINT) AS is_positive FROM ns_tri
UNION ALL
SELECT subj, pred, obj, CAST(0 AS BIGINT) AS is_positive FROM tp_neg
""".strip()


def graph_triangles_sql() -> str:
    """Oracle for per-node triangle participation (mirror of
    kgx.operators.graphstats.triangle_counts: canonical undirected edges,
    a<b<c two-join enumeration, degree from the same edge set)."""
    return f"""
{_graph_edges_ctes()},
ue AS MATERIALIZED (
    SELECT DISTINCT least(subj, obj) AS u, greatest(subj, obj) AS v
    FROM gr_edges WHERE subj <> obj
),
tri AS (
    SELECT ab.u AS a, ab.v AS b, bc.v AS c
    FROM ue ab
    JOIN ue bc ON bc.u = ab.v
    JOIN ue ac ON ac.u = ab.u AND ac.v = bc.v
),
pn AS (
    SELECT label, CAST(count(*) AS BIGINT) AS triangles
    FROM (
        SELECT a AS label FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY 1
),
deg AS (
    SELECT label, CAST(count(*) AS BIGINT) AS degree
    FROM (SELECT u AS label FROM ue UNION ALL SELECT v FROM ue)
    GROUP BY 1
)
SELECT deg.label,
       CAST(coalesce(pn.triangles, 0) AS BIGINT) AS triangles,
       deg.degree
FROM deg LEFT JOIN pn USING (label)
""".strip()


def media_caption_pairs_sql() -> str:
    """Oracle for interleaved caption mining (mirror of
    kgx.operators.media.media_caption_pairs): nearest non-empty text spans
    around each media span via IGNORE NULLS window edges over the same
    span table the engine explodes."""
    return f"""
WITH sp_all AS ({spans_sql()}),
enr AS (
    SELECT doc_id, kind, media_ref, span_pos,
           last_value(CASE WHEN kind = 'text' AND length(text) > 0 THEN text END
                      IGNORE NULLS)
               OVER (PARTITION BY doc_id ORDER BY span_pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_text,
           first_value(CASE WHEN kind = 'text' AND length(text) > 0 THEN text END
                       IGNORE NULLS)
               OVER (PARTITION BY doc_id ORDER BY span_pos
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_text
    FROM sp_all
)
SELECT doc_id, media_ref, span_pos, prev_text, next_text,
       coalesce(prev_text, next_text) AS caption
FROM enr WHERE kind = 'media'
""".strip()


def kg_scd2_sql() -> str:
    """Oracle for SCD2 validity intervals over simulated run appends
    (mirror of kgx.plans.versions.scd2_intervals composed with the
    q_kg_scd2_intervals run synthesis): the same three post-extraction
    slices stamped run_seq 1..3, islands via run_seq - row_number(),
    ``is_current`` against the log's own max(run_seq) (a scalar
    subquery, as the engine's broadcast 1-row aggregate)."""
    dnum = "CAST(substr(t.doc_id, 5) AS BIGINT)"
    slices = [
        f"{dnum} % 3 <> 0 AND pred <> 'acquired'",
        f"{dnum} % 5 <> 4",
        "TRUE",
    ]
    union = "\nUNION ALL\n".join(
        f"SELECT subj, pred, obj, CAST({r} AS BIGINT) AS run_seq "
        f"FROM tri t WHERE {where}"
        for r, where in enumerate(slices, 1)
    )
    return f"""
WITH {_tri_cte_head()},
sc_runs AS ({union}),
sc_pres AS (SELECT DISTINCT subj, pred, obj, run_seq FROM sc_runs),
sc_isl AS (
    SELECT subj, pred, obj, run_seq,
           run_seq - row_number() OVER (
               PARTITION BY subj, pred, obj ORDER BY run_seq) AS island
    FROM sc_pres
)
SELECT subj, pred, obj,
       CAST(min(run_seq) AS BIGINT) AS first_seq,
       CAST(max(run_seq) AS BIGINT) AS last_seq,
       (max(run_seq) = (SELECT max(run_seq) FROM sc_runs)) AS is_current
FROM sc_isl GROUP BY subj, pred, obj, island
""".strip()
