"""Expected results and output checks.

Catalog ops are checked against `SparkEntry.oracleSql`, run through
DuckDB on the same inputs and compared the way `scripts/local_verify.py`
compares them: columns sorted by name, rows sorted by value, floats by
repr. Pipeline ops are checked against `CLEANSE_SQL`, a DuckDB mirror
of `Cleanse.cleanseTitles`. Expected results are computed once per seed,
before the timed run, and cached as pickles.
"""
import os
import pickle

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    out = df.apply(lambda col: col.map(cell)) if len(df.columns) else df
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def same(got, want):
    """None when equal, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if not got.equals(want):
        diff = (got != want).any(axis=1)
        i = diff[diff].index[0]
        return f"row {i}: got {got.loc[i].to_dict()} want {want.loc[i].to_dict()}"
    return None


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


# ---- the cleanse mirror ----

_EUROPE = {
    "United Kingdom": "United Kingdom", "England": "United Kingdom",
    "Scotland": "United Kingdom", "Wales": "United Kingdom",
    "Ireland": "Ireland", "Spain": "Spain", "France": "France",
    "Germany": "Germany", "West Germany": "Germany", "Italy": "Italy",
    "Portugal": "Portugal", "Netherlands": "Netherlands",
    "Belgium": "Belgium", "Sweden": "Sweden", "Norway": "Norway",
    "Denmark": "Denmark", "Finland": "Finland", "Poland": "Poland",
    "Czech Republic": "Czech Republic", "Austria": "Austria",
    "Switzerland": "Switzerland", "Luxembourg": "Luxembourg",
    "Russia": "Russia", "Ukraine": "Ukraine", "Belarus": "Belarus",
    "Turkey": "Turkey", "Greece": "Greece", "Cyprus": "Cyprus",
    "Iceland": "Iceland"}
_MEANING = [
    ("TV-G", "Todo público"), ("TV-Y", "Niños pequeños"),
    ("TV-Y7", "Mayores de 7 años"), ("TV-Y7-FV", "7+ con violencia fantasiosa"),
    ("TV-PG", "Guía parental recomendada"), ("TV-14", "Mayores de 14 años"),
    ("TV-MA", "Solo adultos"), ("G", "Todo público"), ("PG", "Guía parental"),
    ("PG-13", "Mayores de 13 años"), ("R", "Restringido +17"),
    ("NC-17", "Solo adultos (estricto)"), ("NR", "No clasificado")]
_GENRES = [
    ("%Kids%", "Kids"), ("%Anime%", "Anime"), ("%Crime%", "Crime"),
    ("%Horror%", "Crime"), ("%Action%", "Crime"), ("%Drama%", "Drama"),
    ("%Romantic%", "Drama"), ("%Classic%", "Drama"), ("%Comedy%", "Comedy"),
    ("%Stand-Up%", "Comedy"), ("%Reality%", "Documental"),
    ("%Docu%", "Documental")]


def _lit(s):
    return "'" + s.replace("'", "''") + "'"


def _csv(path):
    return (f"read_csv({_lit(path)}, header=true, all_varchar=true, "
            "delim=',', quote='\"', escape='\\')")


def cleanse_sql(csv_path):
    """`Cleanse.cleanseTitles` over one drop, every column as VARCHAR."""
    keys = ", ".join(_lit(k) for k in _EUROPE)
    std = " ".join(f"WHEN {_lit(k)} THEN {_lit(v)}"
                   for k, v in _EUROPE.items() if k != v)
    ratings = ", ".join(_lit(k) for k, _ in _MEANING)
    meaning = " ".join(f"WHEN {_lit(k)} THEN {_lit(v)}" for k, v in _MEANING)
    genre = " ".join(f"WHEN main_genre LIKE {_lit(p)} THEN {_lit(v)}"
                     for p, v in _GENRES)
    return f"""
      WITH base AS (
        SELECT show_id, title, rating,
          string_split(listed_in, ',')[1] AS main_genre,
          regexp_replace(release_year, '[^0-9]', '', 'g') AS year_digits,
          (list_filter(list_filter(list_transform(
             string_split(replace(trim(replace(country, '"', '')), '"', ''), ','),
             x -> trim(x)), x -> x <> ''),
           x -> list_contains([{keys}], x)))[1] AS hit
        FROM {_csv(csv_path)}
        WHERE type = 'TV Show'),
      rated AS (
        SELECT *,
          CASE WHEN rating IN ({ratings}) THEN rating ELSE 'UNKNOWN' END
            AS rating_clean,
          CASE rating {meaning} ELSE 'Desconocido' END AS meaning,
          CASE {genre} ELSE 'Other' END AS genre_group
        FROM base
        WHERE hit IS NOT NULL AND year_digits <> '')
      SELECT show_id,
        trim(replace(replace(title, '"', ''), ',', ' -')) AS title,
        trim(replace(CASE hit {std} ELSE hit END, '"', '')) AS country,
        CAST(TRY_CAST(year_digits AS INTEGER) AS VARCHAR) AS release_year,
        rating_clean AS rating,
        trim(replace(meaning, '"', '')) AS rating_meaning,
        trim(replace(main_genre, '"', '')) AS main_genre,
        genre_group
      FROM rated
      WHERE trim(replace(meaning, '"', '')) NOT IN ('TV-MA', 'TV-G', '2020')"""


# ---- expected results, cached per seed ----

def expected(cache_dir, data_dir, ops, oracle, drops):
    """Compute (once) and return {op: canon DataFrame | None}. None marks
    an op checked by row count only."""
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for op in ops:
        path = os.path.join(cache_dir, op.replace(":", "_") + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[op] = pickle.load(f)
            continue
        if con is None:
            con = _connect(data_dir)
        if op.startswith("pipeline:"):
            sql = cleanse_sql(drops[int(op.split(":")[1])])
        elif op in oracle["oracle_sql"]:
            sql = oracle["oracle_sql"][op]
        elif op in oracle["rows_only"]:
            sql = None
        else:
            raise SystemExit(f"{op} has neither an oracle nor a rows-only check")
        res = None if sql is None else canon(con.execute(sql).fetchdf())
        with open(path + ".tmp", "wb") as f:
            pickle.dump(res, f)
        os.replace(path + ".tmp", path)
        out[op] = res
    return out


def got(check):
    """The program's output named by one of the record's checks."""
    if check["kind"] == "pipeline":
        con = duckdb.connect()
        return canon(con.execute(f"SELECT * FROM {_csv(check['path'])}").fetchdf())
    files = sorted(f for f in os.listdir(check["path"]) if f.endswith(".parquet"))
    frames = [pd.read_parquet(os.path.join(check["path"], f)) for f in files]
    return canon(pd.concat(frames))
