"""Independent DuckDB evaluations the benchmark compares outputs with.

Every function returns a list of mismatch descriptions (empty = the
program's output is right). Rows are compared as multisets after
sorting columns by name and canonicalizing cells, the way the
repository's differential tests compare engines.
"""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb

# DuckDB twin of the search key on the ASCII inputs the generator makes
SK = "regexp_replace(replace(lower(strip_accents({})), '(live)', ''), '[^a-z0-9]+', '', 'g')"


def sk(expr: str) -> str:
    return SK.format(expr)


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    return v


def normalize(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


def compare(what: str, cols_a, rows_a, cols_b, rows_b) -> list[str]:
    if sorted(cols_a) != sorted(cols_b):
        return [f"{what}: columns {sorted(cols_a)} != {sorted(cols_b)}"]
    a, b = normalize(list(cols_a), rows_a), normalize(list(cols_b), rows_b)
    if a == b:
        return []
    sa, sb = set(a), set(b)
    ex = sorted(sa - sb, key=repr)[:3] or sorted(sb - sa, key=repr)[:3]
    return [f"{what}: {len(a)} rows vs {len(b)} expected; e.g. {ex}"]


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with each ``name -> parquet path`` as a view."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}', hive_partitioning=true)")
    return con


def query(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


# ---------------------------------------------------------------------------
# batch_build: the export tables
# ---------------------------------------------------------------------------


def export_tables_sql(canonical_oracle: str) -> dict[str, str]:
    """DuckDB definitions of the five export tables over the TPC-H views.

    ``canonical_oracle`` is the registry's ``mb_pipeline_scale`` oracle,
    the full DuckDB twin of ``run_pipeline``'s canonical selection on
    this world; the export tables are projections of it plus the
    artist cut and the two alias unions."""
    artist = """
      SELECT s.s_suppkey AS id, CAST(s.s_suppkey AS VARCHAR) AS mb_id, s.s_name AS name,
             lower(upper(substr(n.n_name, 1, 2))) AS country_id,
             coalesce(u.score, 0) AS score
      FROM supplier s
      LEFT JOIN (SELECT l_suppkey, count(*) AS score
                 FROM (SELECT DISTINCT l_suppkey, l_orderkey FROM lineitem)
                 GROUP BY l_suppkey) u ON u.l_suppkey = s.s_suppkey
      LEFT JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE lower(upper(substr(n.n_name, 1, 2))) = 'be' OR coalesce(u.score, 0) > 8"""
    canon = f"({canonical_oracle})"
    return {
        "mb_artist": artist,
        "mb_artist_alias": f"""
          SELECT DISTINCT id AS artist_id, {sk('name')} AS alias FROM ({artist})
          WHERE {sk('name')} <> ''""",
        "mb_album": f"""
          SELECT DISTINCT release_group_mb_id AS mb_id, release_group_name AS title,
                 release_group_year AS release_year, is_soundtrack,
                 (release_type = 2) AS is_single, is_main_album
          FROM {canon}""",
        "mb_song": f"""
          SELECT recording_mb_id AS mb_id, work_mb_id, recording_name AS title, artist_id,
                 second_artist_id, release_group_mb_id AS album_mb_id,
                 is_single_from AS is_single, language, recording_score AS score
          FROM {canon}""",
        "mb_song_alias": f"""
          SELECT DISTINCT c.recording_mb_id AS song_id, {sk('p.p_name')} AS alias
          FROM {canon} c
          JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) d
            ON CAST(d.l_partkey * 10000000 + d.l_suppkey AS VARCHAR) = c.recording_mb_id
          JOIN part p ON p.p_partkey = d.l_partkey
          WHERE {sk('p.p_name')} <> ''""",
    }


def check_export(tpch_dir: str, sink: str, canonical_oracle: str) -> list[str]:
    views = {t: f"{tpch_dir}/{t}.parquet" for t in ("supplier", "nation", "part", "orders", "lineitem")}
    con = connect(views)
    errors: list[str] = []
    for table, sql in export_tables_sql(canonical_oracle).items():
        cols_e, rows_e = query(con, sql)
        cols_g, rows_g = query(con, f"SELECT * FROM read_parquet('{sink}/{table}/*.parquet')")
        errors += compare(table, cols_g, rows_g, cols_e, rows_e)
    con.close()
    return errors


# ---------------------------------------------------------------------------
# export_refresh: the store and the read path
# ---------------------------------------------------------------------------

CATALOG_SQL = f"""
  SELECT CAST(s.mb_id AS BIGINT) AS song_id, s.artist_id, s.title,
         {sk('s.title')} AS alias_key, s.score AS recording_score, a.release_year,
         s.is_single AS is_single_from, a.is_main_album
  FROM {{songs}} s JOIN mb_album a ON a.mb_id = s.album_mb_id"""


def search_sql(catalog: str, queries: str) -> str:
    """The read path in SQL: fuzzy artist resolve (direct, then the '&'
    split for unresolved queries), phase-1 prefix / phase-2 distance-1
    title match, relevance, max/10 threshold, earliest-year argmax."""
    return f"""
WITH q AS (
  SELECT qid, artist_q, {sk('artist_q')} AS artist_key, {sk('title_q')} AS title_key,
         {sk("split_part(artist_q, '&', 1)")} AS main_key
  FROM {queries}
),
direct AS (
  SELECT DISTINCT q.qid, q.title_key, a.artist_id
  FROM q JOIN mb_artist_alias a
    ON length(a.alias) < 255 AND levenshtein(q.artist_key, a.alias) <= 1
),
duet AS (
  SELECT DISTINCT q.qid, q.title_key, a.artist_id
  FROM q JOIN mb_artist_alias a
    ON length(a.alias) < 255 AND levenshtein(q.main_key, a.alias) <= 1
  WHERE q.qid NOT IN (SELECT qid FROM direct) AND q.artist_q LIKE '%&%'
),
resolved AS (SELECT * FROM direct UNION ALL SELECT * FROM duet),
cand AS (
  SELECT r.qid, r.title_key, c.*,
         starts_with(c.alias_key, r.title_key) AS is_p1,
         length(c.alias_key) < 255 AND levenshtein(r.title_key, c.alias_key) <= 1 AS is_p2
  FROM resolved r JOIN ({catalog}) c ON c.artist_id = r.artist_id
),
matched AS (
  SELECT *, max(CAST(is_p1 AS INT)) OVER (PARTITION BY qid) AS has_p1
  FROM cand WHERE is_p1 OR is_p2
),
scored AS (
  SELECT *, CASE WHEN is_p1 THEN 1 ELSE 2 END AS phase,
         CAST(recording_score AS DOUBLE)
         * CASE WHEN is_single_from THEN 10 ELSE 1 END
         * CASE WHEN is_main_album THEN 10 ELSE 1 END
         * CASE WHEN alias_key = title_key THEN 10 ELSE 1 END AS relevance
  FROM matched WHERE is_p1 OR has_p1 = 0
)
SELECT qid, song_id, artist_id, title, release_year, CAST(phase AS BIGINT) AS phase,
       round(relevance, 2) AS relevance
FROM (SELECT *, max(relevance) OVER (PARTITION BY qid) AS max_rel FROM scored)
WHERE relevance >= max_rel / 10
QUALIFY row_number() OVER (
  PARTITION BY qid ORDER BY release_year, relevance DESC, song_id, artist_id) = 1
"""


def _queries_table(con, batches: list[list[dict]], name: str) -> None:
    rows = [(q["qid"], q["artist_q"], q["title_q"]) for b in batches for q in b]
    con.execute(f"CREATE OR REPLACE TABLE {name} (qid BIGINT, artist_q VARCHAR, title_q VARCHAR)")
    if rows:
        con.executemany(f"INSERT INTO {name} VALUES (?, ?, ?)", rows)


def lww_sql(files: list[str]) -> str:
    """The store's expected content: last writer (highest version) wins
    per ``mb_id`` over the initial load and every merged increment."""
    union = " UNION ALL ".join(f"SELECT * FROM read_parquet('{f}')" for f in files)
    return f"""
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY mb_id ORDER BY version DESC) AS rn
        FROM ({union})) WHERE rn = 1"""


def check_refresh(export_dir: str, store: str, merged: list[str], searches) -> list[str]:
    """``merged``: the initial file then each increment in merge order;
    ``searches``: (number of files merged before it, batch, cols, rows)."""
    con = connect({
        "mb_album": f"{export_dir}/mb_album.parquet",
        "mb_artist_alias": f"{export_dir}/mb_artist_alias.parquet",
    })
    errors: list[str] = []
    cols_g, rows_g = query(
        con, f"SELECT * EXCLUDE (__bucket) FROM read_parquet('{store}/*/*.parquet', hive_partitioning=true)")
    cols_e, rows_e = query(con, lww_sql(merged))
    errors += compare("store after merges", cols_g, rows_g, cols_e, rows_e)
    for n_files, batch, cols, rows in searches:
        _queries_table(con, [batch], "queries")
        songs = f"({lww_sql(merged[:n_files])})"
        cols_e, rows_e = query(con, search_sql(CATALOG_SQL.format(songs=songs), "queries"))
        errors += compare(f"fresh search after {n_files - 1} merges", cols, rows, cols_e, rows_e)
    con.close()
    return errors


# ---------------------------------------------------------------------------
# batch_build: the index lifecycles
# ---------------------------------------------------------------------------


def check_oracle(docs_dir: str, name: str, oracle: str, cols, rows) -> list[str]:
    con = connect({t: f"{docs_dir}/{t}.parquet" for t in ("documents", "embeddings")})
    cols_e, rows_e = query(con, oracle)
    con.close()
    return compare(name, cols, rows, cols_e, rows_e)
