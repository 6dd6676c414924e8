"""Closed-loop accuracy run over the reference's REAL benchmark CSV
(r6, VERDICT item 1).

``/root/reference/benchmark/default.csv`` — all 2,954 genuine rows —
is both the WORKLOAD and the raw material for a MusicBrainz-shaped
catalog, so the whole reference read path (fuzzy artist resolve, duet
'&' fallback with the second-artist condition, two-phase title search,
relevance threshold + earliest-year argmax, Correct/Missing/Wrong
accuracy fold — ``/root/reference/src/benchmark.py:69-183,245-274``)
runs end to end on the reference's own data with a KNOWN expected
outcome per row class:

- catalog: one genuine song per CSV row (artist/second-artist ids,
  title, the row's release-group mb id as the answer key), artist
  alias table from the artist/artist2 name columns plus PERTURBED
  alias variants (key + 'z', a distance-1 alias like real alias
  tables carry);
- decoys (id % 13 == 0): a same-artist "<title> (demo)" song with
  recording_score 1 and a later year — prefix-matches phase 1 but is
  cut by the max/10 relevance threshold, so it must never win;
- WRONG class (id % 31 == 0): the genuine song is replaced by an
  impostor with the same artist + exact title but a different
  release-group id — the search must find it and score the row Wrong;
- MISSING class (id % 23 == 0, not wrong): the QUERY title gets a
  7-char garble suffix — neither prefix nor distance-1 can match, so
  the row must score Missing (rows whose CSV mb id is empty also
  score Missing, mirroring benchmark.py:245: a match without a
  release-group id counts as no match);
- artist-typo class (id % 10 == 3, plain-ASCII 5+-char single
  artists): 2nd character deleted — resolves only through the fuzzy
  distance-1 artist join;
- title-typo class (id % 10 == 6): title + 'x' — matches only through
  the phase-2 bounded-levenshtein fallback.

The DuckDB oracle replays the IDENTICAL pipeline in SQL over the same
file, so the driver's value hash certifies the full composition on
real data; tests/test_benchmark_real.py pins the scoreboard and the
per-class guarantees (every designed-Wrong row IS Wrong, every
designed-Missing row IS Missing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.normalize import search_key, search_key_sql
from ..sources.readers import read_csv_golden
from .fuzzy import fuzzy_key_join, rank_candidates, score_candidates
from .golden_shape import GOLDEN_SHAPE_SCHEMA
from .registry import register
from .util import eager_checkpoint

# resolvable from the environment so a machine without the reference
# checkout can point at its own copy (r6 ADVICE); when the file is
# absent the query is simply NOT registered — full sweep, bench and
# the driver window all degrade gracefully instead of failing at
# runtime on a hardcoded absolute path
REAL_CSV = os.environ.get(
    "SPARK_GRAFT_GOLDEN_CSV", "/root/reference/benchmark/default.csv"
)
REAL_CSV_PRESENT = os.path.exists(REAL_CSV)
# the queries that read the golden CSV and therefore register only
# when it is present — named once here; the registry, the driver
# window and the doc-count test all derive from this tuple
CSV_GATED = (
    "benchmark_golden_real_e2e",
    "benchmark_golden_wrong_rows",
    "benchmark_candidates_debug",
)
N_GOLDEN = 2954
WRONG_MOD = 31  # impostor catalog entry -> must score Wrong
MISSING_MOD = 23  # garbled query title -> must score Missing
DECOY_MOD = 13  # low-score "(demo)" prefix competitor
ARTIST_TYPO_MOD = 10  # id % 10 == 3 -> delete artist's 2nd char
TITLE_TYPO_MOD = 10  # id % 10 == 6 -> append 'x' to the title
ALIAS_PERTURB_MOD = 5  # artist_id % 5 == 2 -> extra key+'z' alias
GARBLE = " zzzqqxx"


def _base(spark: SparkSession) -> DataFrame:
    """The real CSV with empty-string mb ids normalized to NULL (the
    reference's expected-answer column) — parse parity with DuckDB's
    reader is proven in tests/test_golden_shape.py.

    The parse is paid ONCE per build by writing the 2,954 parsed rows
    to a tiny parquet sink INSIDE the query and reading that back
    (r15 verdict item 8): the classified pipeline consumes _base in
    ~8 sibling subtrees, and the parquet scan — unlike the two r15
    attempts — keeps REAL size stats, so every tiny-dim join the
    planner auto-broadcasts off estimates still broadcasts. (r15,
    measured, HEAD 4.5 s solo: a VALUES LocalRelation of the rows →
    7.1 s — literal rows copied into the plan at every reference,
    optimizer passes walk all copies; an eager localCheckpoint →
    7.0 s — the LogicalRDD loses size stats and the broadcasts
    degrade to sort-merge.) The sink is rmtree'd and rebuilt inside
    every build, so each bench trial still computes from the CSV —
    nothing persists across runs."""
    import shutil  # noqa: PLC0415

    from .etl import SINK_ROOT  # noqa: PLC0415

    raw = read_csv_golden(spark, REAL_CSV, schema=GOLDEN_SHAPE_SCHEMA)
    parsed = raw.select(
        "id",
        "title",
        "artist_id",
        "artist_name",
        "artist2_id",
        "artist2_name",
        F.when(F.col("musicbrainz_id") == "", None)
        .otherwise(F.col("musicbrainz_id"))
        .alias("db_mb_id"),
        F.col("release_year").cast("long").alias("release_year"),
    )
    path = f"{SINK_ROOT}/golden_base"
    shutil.rmtree(path, ignore_errors=True)
    parsed.write.parquet(path)
    return spark.read.schema(parsed.schema).parquet(path)


def _catalog(base: DataFrame) -> DataFrame:
    """Song catalog synthesized from the CSV rows themselves:
    genuine rows (score 10), impostors for the WRONG class, decoys."""
    is_wrong = F.col("id") % WRONG_MOD == 0
    song_cols = lambda song_id, title, mb_id, score, year: [  # noqa: E731
        song_id.alias("song_id"),
        F.col("artist_id"),
        F.col("artist2_id").alias("second_artist_id"),
        title.alias("title"),
        mb_id.alias("mb_id"),
        score.cast("long").alias("recording_score"),
        F.lit(False).alias("is_single_from"),
        F.lit(False).alias("is_main_album"),
        year.alias("release_year"),
    ]
    genuine = base.filter(~is_wrong).select(
        *song_cols(
            F.col("id"), F.col("title"), F.col("db_mb_id"), F.lit(10),
            F.col("release_year"),
        )
    )
    impostor = base.filter(is_wrong).select(
        *song_cols(
            F.col("id"),
            F.col("title"),
            F.concat(F.lit("wrong-"), F.col("id")),
            F.lit(10),
            F.col("release_year"),
        )
    )
    decoy = base.filter(F.col("id") % DECOY_MOD == 0).select(
        *song_cols(
            F.col("id") + 1_000_000,
            F.concat(F.col("title"), F.lit(" (demo)")),
            F.concat(F.lit("decoy-"), F.col("id")),
            F.lit(1),
            F.col("release_year") + 1,
        )
    )
    return (
        genuine.unionByName(impostor)
        .unionByName(decoy)
        .withColumn("alias_key", search_key("title"))
    )


def _aliases(base: DataFrame) -> DataFrame:
    """(artist_id, akey): own names for artist and artist2 columns,
    plus a perturbed key+'z' variant for every 5th artist id."""
    a1 = base.select("artist_id", F.col("artist_name").alias("name"))
    a2 = base.filter(F.col("artist2_id").isNotNull()).select(
        F.col("artist2_id").alias("artist_id"),
        F.col("artist2_name").alias("name"),
    )
    own = (
        a1.unionByName(a2)
        .select("artist_id", search_key("name").alias("akey"))
        .distinct()
    )
    perturbed = own.filter(F.col("artist_id") % ALIAS_PERTURB_MOD == 2).select(
        "artist_id", F.concat(F.col("akey"), F.lit("z")).alias("akey")
    )
    return own.unionByName(perturbed).distinct()


def _golden_queries(base: DataFrame) -> DataFrame:
    """qid, artist_q, title_q, db_mb_id with the per-class
    perturbations (mirrored verbatim in the SQL oracle)."""
    is_wrong = F.col("id") % WRONG_MOD == 0
    is_missing = (F.col("id") % MISSING_MOD == 0) & ~is_wrong
    combined = F.when(
        F.col("artist2_name").isNotNull() & (F.col("artist2_name") != ""),
        F.concat_ws(" & ", "artist_name", "artist2_name"),
    ).otherwise(F.col("artist_name"))
    artist_typo_ok = (
        (F.col("id") % ARTIST_TYPO_MOD == 3)
        & ~is_wrong
        & ~is_missing
        & F.col("artist2_id").isNull()
        & (F.length("artist_name") >= 5)
        # deleting an ASCII letter moves the search key by EXACTLY one
        # edit; a multibyte or punctuation 2nd char could fold to 0 or
        # 2 key edits, so the typo only applies to plain-ASCII starts
        & F.col("artist_name").rlike("^[A-Za-z]{3}")
    )
    artist_q = F.when(
        artist_typo_ok,
        F.concat(
            F.substring("artist_name", 1, 1),
            F.expr("substring(artist_name, 3)"),
        ),
    ).otherwise(combined)
    title_q = (
        F.when(is_missing, F.concat(F.col("title"), F.lit(GARBLE)))
        .when(
            (F.col("id") % TITLE_TYPO_MOD == 6) & ~is_wrong,
            F.concat(F.col("title"), F.lit("x")),
        )
        .otherwise(F.col("title"))
    )
    return base.select(
        F.col("id").alias("qid"),
        artist_q.alias("artist_q"),
        title_q.alias("title_q"),
        "db_mb_id",
    )


def _resolve(qk: DataFrame, aliases: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(direct, duet_main, duet_second): the reference's resolve order —
    fuzzy on the combined name first (benchmark.py:171), the '&' split
    only for queries the direct resolve left EMPTY (:173-183)."""
    keyed = qk.select(
        "qid",
        "artist_q",
        search_key("artist_q").alias("artist_key"),
        search_key("title_q").alias("title_key"),
    )
    direct = (
        fuzzy_key_join(
            keyed.select("qid", "artist_key", "title_key"),
            aliases,
            "artist_key",
            "akey",
        )
        .select("qid", "title_key", "artist_id")
        .distinct()
    )
    unresolved = keyed.join(direct.select("qid").distinct(), "qid", "left_anti")
    parts = F.split(F.col("artist_q"), "&")
    split = unresolved.select(
        "qid",
        "title_key",
        search_key("element_at(split(artist_q, '&'), 1)").alias("main_key"),
        search_key(
            "array_join(slice(split(artist_q, '&'), 2, 99), '&')"
        ).alias("second_key"),
    )
    duet_main = (
        fuzzy_key_join(
            split.select("qid", "title_key", "main_key"), aliases, "main_key", "akey"
        )
        .select("qid", "title_key", "artist_id")
        .distinct()
    )
    duet_second = (
        fuzzy_key_join(
            split.filter(F.col("second_key") != "").select("qid", "second_key"),
            aliases,
            "second_key",
            "akey",
        )
        .select("qid", F.col("artist_id").alias("second_artist_id"))
        .distinct()
    )
    return direct, duet_main, duet_second


def _candidates(
    songs: DataFrame,
    direct: DataFrame,
    duet_main: DataFrame,
    duet_second: DataFrame,
) -> DataFrame:
    """Reference candidate semantics: direct-resolved queries search by
    artist only (search_songs with no second filter); split-resolved
    queries additionally require the song's second_artist_id to be one
    of the query's resolved second artists — but ONLY when the second
    name resolved at least one artist (an empty second_artist_ids list
    drops the condition, benchmark.py:83-85)."""
    direct_cand = songs.join(F.broadcast(direct), "artist_id")
    main_cand = songs.join(F.broadcast(duet_main), "artist_id")
    with_second_qids = duet_second.select("qid").distinct()
    gated = main_cand.join(
        F.broadcast(duet_second),
        ["qid", "second_artist_id"],
        "left_semi",
    )
    ungated = main_cand.join(
        F.broadcast(with_second_qids), "qid", "left_anti"
    )
    return direct_cand.unionByName(gated).unionByName(ungated)


_CSV_SQL = f"""
raw AS (
  SELECT CAST(id AS INT) AS id, title,
         CAST(artist_id AS INT) AS artist_id, artist_name,
         CAST(nullif(artist2_id, '') AS INT) AS artist2_id,
         nullif(artist2_name, '') AS artist2_name,
         nullif(musicbrainz_id, '') AS db_mb_id,
         CAST(release_year AS BIGINT) AS release_year
  FROM read_csv('{REAL_CSV}', header=true, delim=',', quote='"',
                escape='"', all_varchar=true)
)"""

_CATALOG_SQL = f"""
songs AS (
  SELECT id AS song_id, artist_id, artist2_id AS second_artist_id, title,
         db_mb_id AS mb_id, CAST(10 AS BIGINT) AS recording_score,
         release_year
  FROM raw WHERE id % {WRONG_MOD} <> 0
  UNION ALL
  SELECT id, artist_id, artist2_id, title, 'wrong-' || id,
         CAST(10 AS BIGINT), release_year
  FROM raw WHERE id % {WRONG_MOD} = 0
  UNION ALL
  SELECT id + 1000000, artist_id, artist2_id, title || ' (demo)',
         'decoy-' || id, CAST(1 AS BIGINT), release_year + 1
  FROM raw WHERE id % {DECOY_MOD} = 0
),
catalog AS (
  SELECT *, {search_key_sql('title')} AS alias_key FROM songs
),
own_aliases AS (
  SELECT DISTINCT artist_id, {search_key_sql('artist_name')} AS akey FROM raw
  UNION
  SELECT DISTINCT artist2_id, {search_key_sql('artist2_name')} FROM raw
  WHERE artist2_id IS NOT NULL
),
aliases AS (
  SELECT * FROM own_aliases
  UNION
  SELECT artist_id, akey || 'z' FROM own_aliases
  WHERE artist_id % {ALIAS_PERTURB_MOD} = 2
)"""

_QUERIES_SQL = f"""
golden AS (
  SELECT id AS qid,
         CASE WHEN id % {ARTIST_TYPO_MOD} = 3
                   AND id % {WRONG_MOD} <> 0
                   AND NOT (id % {MISSING_MOD} = 0 AND id % {WRONG_MOD} <> 0)
                   AND artist2_id IS NULL
                   AND length(artist_name) >= 5
                   AND regexp_matches(artist_name, '^[A-Za-z]{{3}}')
              THEN substring(artist_name, 1, 1) || substring(artist_name, 3)
              WHEN artist2_name IS NOT NULL
              THEN artist_name || ' & ' || artist2_name
              ELSE artist_name END AS artist_q,
         CASE WHEN id % {MISSING_MOD} = 0 AND id % {WRONG_MOD} <> 0
              THEN title || '{GARBLE}'
              WHEN id % {TITLE_TYPO_MOD} = 6 AND id % {WRONG_MOD} <> 0
              THEN title || 'x'
              ELSE title END AS title_q,
         db_mb_id
  FROM raw
),
qk AS (
  SELECT qid, artist_q, db_mb_id,
         {search_key_sql('artist_q')} AS artist_key,
         {search_key_sql('title_q')} AS title_key
  FROM golden
)"""

_RESOLVE_SQL = f"""
direct AS (
  SELECT DISTINCT q.qid, q.title_key, a.artist_id
  FROM qk q JOIN aliases a
    ON length(a.akey) < 255 AND levenshtein(q.artist_key, a.akey) <= 1
),
unresolved AS (
  SELECT q.*,
         {search_key_sql("split_part(artist_q, '&', 1)")} AS main_key,
         {search_key_sql("array_to_string(list_slice(string_split(artist_q, '&'), 2, 99), '&')")} AS second_key
  FROM qk q WHERE q.qid NOT IN (SELECT qid FROM direct)
),
duet_main AS (
  SELECT DISTINCT u.qid, u.title_key, a.artist_id
  FROM unresolved u JOIN aliases a
    ON length(a.akey) < 255 AND levenshtein(u.main_key, a.akey) <= 1
),
duet_second AS (
  SELECT DISTINCT u.qid, a.artist_id AS second_artist_id
  FROM unresolved u JOIN aliases a
    ON u.second_key <> '' AND length(a.akey) < 255
       AND levenshtein(u.second_key, a.akey) <= 1
),
cand_base AS (
  SELECT d.qid, d.title_key, c.*
  FROM direct d JOIN catalog c ON c.artist_id = d.artist_id
  UNION ALL
  SELECT m.qid, m.title_key, c.*
  FROM duet_main m JOIN catalog c ON c.artist_id = m.artist_id
  WHERE m.qid IN (SELECT qid FROM duet_second)
    AND EXISTS (SELECT 1 FROM duet_second s
                WHERE s.qid = m.qid
                  AND s.second_artist_id = c.second_artist_id)
  UNION ALL
  SELECT m.qid, m.title_key, c.*
  FROM duet_main m JOIN catalog c ON c.artist_id = m.artist_id
  WHERE m.qid NOT IN (SELECT qid FROM duet_second)
)"""

_SEARCH_SQL = """
p1 AS (
  SELECT *, 1 AS phase FROM cand_base
  WHERE alias_key LIKE title_key || '%'
),
p2 AS (
  SELECT *, 2 AS phase FROM cand_base
  WHERE qid NOT IN (SELECT qid FROM p1)
    AND length(alias_key) < 255
    AND levenshtein(title_key, alias_key) <= 1
),
scored AS (
  SELECT *,
         CAST(recording_score AS DOUBLE)
         * CASE WHEN alias_key = title_key THEN 10 ELSE 1 END AS relevance
  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
),
best AS (
  SELECT qid, mb_id, song_id, CAST(phase AS BIGINT) AS phase,
         round(relevance, 2) AS relevance, release_year FROM (
    SELECT *, max(relevance) OVER (PARTITION BY qid) AS max_rel FROM scored
  ) WHERE relevance >= max_rel / 10
  QUALIFY row_number() OVER (
    PARTITION BY qid
    ORDER BY release_year, relevance DESC, song_id, artist_id) = 1
)"""


def _register_if_csv_present(name: str, **kwargs):
    """Register a :data:`CSV_GATED` query only when the golden CSV
    exists: a checkout without the reference repo keeps a fully
    working registry minus these entries (r6 ADVICE item 4)."""
    if name not in CSV_GATED:
        raise ValueError(f"{name} is not listed in CSV_GATED")
    if REAL_CSV_PRESENT:
        return register(name, **kwargs)
    return lambda fn: fn


@_register_if_csv_present(
    "benchmark_golden_real_e2e",
    survey_ids=("A11", "S2", "P6", "P8", "F5", "F9", "A9", "F10", "F11", "O4"),
    oracle=f"""
WITH {_CSV_SQL.lstrip()},
{_CATALOG_SQL.lstrip()},
{_QUERIES_SQL.lstrip()},
{_RESOLVE_SQL.lstrip()},
{_SEARCH_SQL.lstrip()}
SELECT g.status, CAST(count(*) AS BIGINT) AS n,
       round(count(*) * 100.0 / {N_GOLDEN}, 2) AS pct
FROM (
  SELECT q.qid,
         CASE WHEN b.mb_id IS NULL THEN 'Missing'
              WHEN q.db_mb_id IS NULL OR b.mb_id <> q.db_mb_id THEN 'Wrong'
              ELSE 'Correct' END AS status
  FROM golden q LEFT JOIN best b ON b.qid = q.qid
) g
GROUP BY g.status
""",
    doc="The reference's REAL 2,954-row golden benchmark run closed-"
    "loop (src/benchmark.py:69-183,245-274): the actual benchmark CSV "
    "is both workload and catalog raw material (impostors for the "
    "designed-Wrong class, query garbles for the designed-Missing "
    "class, low-score decoys, perturbed aliases, artist/title typo "
    "classes exercising the fuzzy resolve and the phase-2 fallback, "
    "real duet rows through the second-artist condition). One Spark "
    "job scores all rows Correct/Missing/Wrong; the DuckDB oracle "
    "replays the identical pipeline in SQL over the same file, and "
    "tests/test_benchmark_real.py pins the scoreboard plus the "
    "per-class guarantees.",
)
def benchmark_golden_real_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _classified(spark).groupBy("status").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.count("*") * 100.0 / N_GOLDEN, 2).alias("pct"),
    )


def _classified(spark: SparkSession) -> DataFrame:
    """One row per golden query with status PLUS the winning match's
    columns (expected vs got ids, phase, relevance, year) and a
    deterministic triage class — shared by the registered scoreboard
    query, the wrong-rows triage view and the per-class pin test."""
    base = _base(spark)
    songs = _catalog(base)
    aliases = _aliases(base)
    golden = _golden_queries(base)
    direct, duet_main, duet_second = _resolve(golden, aliases)
    # Truncate the plan at the resolve boundary (r16): each resolved
    # set is tiny (<= |golden| rows) and EXPLICITLY broadcast by every
    # consumer (_candidates hints them), so an eager localCheckpoint
    # costs the planner no estimate-driven broadcast decision — unlike
    # the r15 _base checkpoint attempt — while removing the fuzzy-join
    # subtrees from the 3-way candidates union, the ranker and the
    # final match join (the query is plan/codegen-bound: 146 codegen
    # units, 2,954 rows).
    direct = eager_checkpoint(direct)
    duet_main = eager_checkpoint(duet_main)
    duet_second = eager_checkpoint(duet_second)
    cand = _candidates(songs, direct, duet_main, duet_second)
    best = rank_candidates(cand)
    matched = best.join(songs.select("song_id", "mb_id"), "song_id").select(
        "qid",
        "mb_id",
        "phase",
        "relevance",
        F.col("release_year").alias("got_year"),
    )
    triage = (
        F.when(F.col("qid") % WRONG_MOD == 0, "designed-wrong")
        .when(F.col("qid") % MISSING_MOD == 0, "designed-missing")
        .when(F.col("db_mb_id").isNull(), "null-answer-key")
        .otherwise("unexpected")
    )
    return golden.join(matched, "qid", "left").select(
        "qid",
        F.when(F.col("mb_id").isNull(), "Missing")
        .when(
            F.col("db_mb_id").isNull() | (F.col("mb_id") != F.col("db_mb_id")),
            "Wrong",
        )
        .otherwise("Correct")
        .alias("status"),
        triage.alias("triage"),
        F.col("db_mb_id").alias("expected_mb_id"),
        F.col("mb_id").alias("got_mb_id"),
        "phase",
        "relevance",
        "got_year",
    )


@_register_if_csv_present(
    "benchmark_golden_wrong_rows",
    survey_ids=("A11", "S9"),
    oracle=f"""
WITH {_CSV_SQL.lstrip()},
{_CATALOG_SQL.lstrip()},
{_QUERIES_SQL.lstrip()},
{_RESOLVE_SQL.lstrip()},
{_SEARCH_SQL.lstrip()}
SELECT * FROM (
  SELECT q.qid,
         CASE WHEN b.mb_id IS NULL THEN 'Missing'
              WHEN q.db_mb_id IS NULL OR b.mb_id <> q.db_mb_id THEN 'Wrong'
              ELSE 'Correct' END AS status,
         CASE WHEN q.qid % {WRONG_MOD} = 0 THEN 'designed-wrong'
              WHEN q.qid % {MISSING_MOD} = 0 THEN 'designed-missing'
              WHEN q.db_mb_id IS NULL THEN 'null-answer-key'
              ELSE 'unexpected' END AS triage,
         q.db_mb_id AS expected_mb_id, b.mb_id AS got_mb_id,
         b.phase, b.relevance, b.release_year AS got_year
  FROM golden q LEFT JOIN best b ON b.qid = q.qid
) WHERE status <> 'Correct'
""",
    doc="Per-row DISAGREEMENT TRIAGE for the real golden replay — the "
    "reference's per-row diff print (src/benchmark.py:252-267) as a "
    "registered query: every non-Correct row with expected vs got "
    "release-group ids, the winning match's phase/relevance/year, and "
    "a deterministic triage class (designed-wrong impostor, "
    "designed-missing garble, null answer key, or 'unexpected' — the "
    "rows a human would actually read). Pure projection over the same "
    "plan as benchmark_golden_real_e2e; ACCURACY.md carries the "
    "resulting breakdown.",
)
def benchmark_golden_wrong_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _classified(spark).filter(F.col("status") != "Correct")


# The reference's --recording_id debug harness (src/main.py:235-247)
# dumps every candidate considered for one key with its scores. These
# four qids are the golden replay's only non-designed Wrong rows
# (ACCURACY.md) — the exact rows a human debugging the matcher would
# pull candidates for.
DEBUG_QIDS = (185, 288, 512, 1664)


@_register_if_csv_present(
    "benchmark_candidates_debug",
    survey_ids=("A9", "F9"),
    oracle=f"""
WITH {_CSV_SQL.lstrip()},
{_CATALOG_SQL.lstrip()},
{_QUERIES_SQL.lstrip()},
{_RESOLVE_SQL.lstrip()},
{_SEARCH_SQL.lstrip()}
SELECT qid, song_id, mb_id, CAST(phase AS BIGINT) AS phase,
       round(relevance, 2) AS relevance, release_year, title
FROM scored WHERE qid IN {DEBUG_QIDS}
""",
    doc="Candidates-for-one-key DEBUG VIEW — the reference's "
    "--recording_id candidate dump (src/main.py:235-247) as a "
    "registered query: every candidate the scorer considered for the "
    "four non-designed Wrong qids (ACCURACY.md), with phase, "
    "relevance, year and the release-group id, BEFORE the threshold "
    "and argmin — exactly what a human needs to see why the "
    "earliest-year tie-break picked the live/remix/duet variant. "
    "Plan shape: the qid filter lands before scoring, so the whole "
    "view touches |DEBUG_QIDS| query keys regardless of corpus size.",
)
def benchmark_candidates_debug(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    base = _base(spark)
    songs = _catalog(base)
    aliases = _aliases(base)
    golden = _golden_queries(base).filter(F.col("qid").isin(*DEBUG_QIDS))
    direct, duet_main, duet_second = _resolve(golden, aliases)
    cand = _candidates(songs, direct, duet_main, duet_second)
    return score_candidates(cand).select(
        "qid",
        "song_id",
        "mb_id",
        F.col("phase").cast("long").alias("phase"),
        F.round("relevance", 2).alias("relevance"),
        "release_year",
        "title",
    )
