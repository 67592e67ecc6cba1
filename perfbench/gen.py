"""Seeded input generator for the benchmark.

Everything the benchmark reads is made here from `--seed`: the same seed
gives byte-identical files, a different seed gives different ones.

* `write_base(dir, seed)` writes the ten catalog tables at sf0.1 in the
  layout `SparkEntry.queries(name)(spark, dir)` reads: one
  `<table>.parquet` file each, with the column names, types and value
  domains of the TPC-H-ish testdata the catalog was written against.
* `write_titles_drop(path, seed, rows, drop)` writes dirty CSV drop `drop` in the
  netflix-titles shape that `Pipeline.extract/transform/load` cleanses.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at sf0.1
BASE_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "green"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64
DUP_SHARE = 0.05


def _rng(seed, stream):
    """An independent generator per (seed, table) so adding a table
    never shifts the values of another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)], type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    """Midnight timestamps uniform in [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    type=pa.timestamp("us"))


def _write(table, path):
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def base_tables(seed):
    """The ten sf0.1 tables as pyarrow Tables, keyed by name."""
    n = BASE_ROWS
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    k = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, k)),
        "c_mktsegment": _choice(r, SEGMENTS, k)})

    r = _rng(seed, 2)
    k = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, k))})

    r = _rng(seed, 3)
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    keys = np.arange(k)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _choice(r, names, k),
        "p_brand": _choice(r, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _choice(r, PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})

    r = _rng(seed, 4)
    k = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": _choice(r, ["F", "O", "P"], k),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, k)),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": _choice(r, PRIORITIES, k)})

    r = _rng(seed, 5)
    k = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, k).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, k)),
        "l_discount": pa.array(r.integers(0, 11, k) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, k) / 100.0),
        "l_returnflag": _choice(r, ["A", "N", "R"], k),
        "l_linestatus": _choice(r, ["F", "O"], k),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", k)})

    r = _rng(seed, 6)
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + r.integers(0, span, k))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, k), pa.int64()),
        "event_type": _choice(r, EVENT_TYPES, k),
        "value": pa.array(np.round(r.exponential(50.0, k), 2)),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)])})

    r = _rng(seed, 7)
    k = n["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    lens = r.integers(10, 101, k)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), m)]) for m in lens]
    # near-duplicates: a few documents repeat another one plus a token
    dups = r.choice(k, size=int(k * DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(k), dups)
    for d in dups:
        texts[d] = texts[originals[r.integers(0, len(originals))]] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(r, LANGS, k, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(k)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})

    r = _rng(seed, 8)
    k = n["embeddings"]
    v = r.standard_normal((k, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k), pa.int32())})
    return t


def write_base(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in base_tables(seed).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# ---- netflix-titles drops for the pipeline ops ----

TITLE_COLUMNS = ["show_id", "type", "title", "director", "cast", "country",
                 "date_added", "release_year", "rating", "duration",
                 "listed_in", "description"]
_COUNTRIES = [
    "France, United Kingdom", "England", " West Germany , Spain ", "Peru",
    "United States, France", "", None, "Japan", "Scotland, Ireland",
    "Italy", "India, Germany", "Canada", "Norway , Denmark", "Wales",
    "South Korea", "Spain", "Brazil, Portugal", "Greece", "United States",
    '\\"Netherlands\\"', "Iceland, ", " Poland"]
_YEARS = ["2019", "2020 ", "20x20", "", None, "1999", "2021", "2015",
          "2008", "19 87", "2011"]
_RATINGS = ["TV-G", "TV-Y", "TV-Y7", "TV-Y7-FV", "TV-PG", "TV-14", "TV-MA",
            "G", "PG", "PG-13", "R", "NC-17", "NR", "UR", "74 min", None]
_GENRES = [
    "Kids' TV, Comedies", "Anime Series, International TV Shows",
    "Crime TV Shows, Dramas", "Horror Movies", "Action & Adventure",
    "Dramas, Romantic Movies", "Classic Movies, Dramas", "Stand-Up Comedy",
    "Reality TV", "Docuseries, Science & Nature TV", "International Movies",
    "TV Comedies", None, "British TV Shows, Docuseries"]
_WORDS = ["love", "night", "city", "last", "house", "dark", "river", "time",
          "secret", "king", "home", "story", "summer", "war", "blue", "road"]


def _quote(v):
    return "" if v is None else '"' + v + '"'


def titles_lines(seed, rows, drop):
    """Lines of one dirty netflix-titles CSV drop (header first). Every
    non-null value is quoted; `\\"` is an escaped quote, the convention
    Spark's CSV reader uses by default."""
    r = _rng(seed, 200 + drop)
    words = np.asarray(_WORDS, dtype=object)

    def pick(values):
        return np.asarray(values, dtype=object)[
            r.integers(0, len(values), rows)]

    w1, w2, w3 = (words[r.integers(0, len(_WORDS), rows)] for _ in range(3))
    form = r.integers(0, 6, rows)
    types = np.where(r.random(rows) < 0.6, "TV Show", "Movie")
    countries, years, ratings = pick(_COUNTRIES), pick(_YEARS), pick(_RATINGS)
    genres, seasons = pick(_GENRES), r.integers(1, 9, rows)
    day, year = r.integers(1, 29, rows), r.integers(2008, 2022, rows)
    lines = [",".join(TITLE_COLUMNS)]
    for i in range(rows):
        if form[i] == 0:
            title = f"{w1[i]}, {w2[i]} {i}"
        elif form[i] == 1:
            title = f'The \\"{w1[i]}\\" {w2[i]} {i}'
        elif form[i] == 2:
            title = f"  {w1[i]} {w3[i]} {i} "
        else:
            title = f"{w1[i]} {w2[i]} {w3[i]} {i}"
        rec = [f"s{drop}_{i}", str(types[i]), title,
               f"Director {w3[i]}", f"{w1[i]} Actor, {w2[i]} Actor",
               countries[i], f"September {day[i]}, {year[i]}", years[i],
               ratings[i], f"{seasons[i]} Seasons", genres[i],
               f"A {w1[i]} story about {w2[i]}, {w3[i]} and more."]
        lines.append(",".join(_quote(v) for v in rec))
    return lines


def write_titles_drop(path, seed, rows, drop):
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(titles_lines(seed, rows, drop)))
        f.write("\n")
    os.replace(tmp, path)
