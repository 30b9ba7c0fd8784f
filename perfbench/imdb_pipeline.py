"""``imdb_pipeline`` workload: one daily cycle of an IMDb database.

A pass runs, in order and through the program's public entry points:

1. ``ingest.transfer`` of the 7 datasets of snapshot A,
2. ``NormalizedBuild(db).run(timings=...)``,
3. ``ingest.incremental_transfer`` of snapshot B, where 5% of the
   ``title.ratings`` rows changed and 1% new ``title.basics`` rows were
   appended (the other 5 files are byte-identical copies),
4. one round of the three query templates, each through
   ``ParquetDatabase.sql`` and streamed by ``sources.tsv.print_tsv`` into an
   in-memory sink (one client, closed loop).

Snapshot A is ``tests.fixtures_imdb.synth_imdb_tsv``.  The checks derive
every expected figure from the TSV files and the generator's own rules with
plain Python and DuckDB, never with Spark.
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import io
import json
import os
import random
import shutil
import time

SIZES = {"bench": (4_000, 2_000), "smoke": (2_000, 1_000)}  # (titles, names)

DATASETS = ["name.basics", "title.akas", "title.basics", "title.crew",
            "title.episode", "title.principals", "title.ratings"]
TABLE_OF = {d: "".join(p.capitalize() for p in d.split(".")) for d in DATASETS}

# greedy decomposition order of the alias-type column (pimdb's
# database.py:1003-1029); an independent copy so the check does not share
# code with the build it checks
_ALIAS_TYPES = ["alternative", "dvd", "festival", "tv", "video", "working",
                "original", "imdbDisplay"]

# Spark SQL; the DuckDB replay swaps backticks for double quotes.  The first
# two follow docs/examples/*.sql: a lookup over the dataset tables (which the
# refresh rewrites) and a six-way join over the normalized tables.
TEMPLATES = {
    "directed_by_name": """
        select TitleBasics.primaryTitle, TitleBasics.startYear
        from TitleBasics
        join TitlePrincipals on TitlePrincipals.tconst = TitleBasics.tconst
        join NameBasics on NameBasics.nconst = TitlePrincipals.nconst
        where NameBasics.primaryName = '{person}'
          and TitlePrincipals.category = 'director'""",
    "character_in_movies": """
        select title.primary_title as `Title`, title.start_year as `Year`,
               name.primary_name as `Actor`, `character`.name as `Character`
        from `character`
        join participation_to_character
          on participation_to_character.character_id = `character`.id
        join participation on participation.id = participation_to_character.participation_id
        join name on name.id = participation.name_id
        join title on title.id = participation.title_id
        join title_type on title_type.id = title.title_type_id
        where `character`.name = '{character}' and title_type.name = 'movie'
        order by title.start_year, name.primary_name, title.primary_title""",
    "genre_rating_agg": """
        select genre.name as genre, count(*) as titles,
               sum(title.rating_count) as votes, max(title.average_rating) as best
        from title
        join title_to_genre on title_to_genre.title_id = title.id
        join genre on genre.id = title_to_genre.genre_id
        where title.start_year between {year} and {year} + 9
        group by genre.name
        order by genre.name""",
}


class Snapshots:
    """Seeded snapshot A, its delta snapshot B and the expected figures."""

    def __init__(self, work_dir: str, seed: int, size: str):
        from tests.fixtures_imdb import synth_imdb_tsv

        self.n_titles, self.n_names = SIZES[size]
        self.seed = seed
        self.dir_a = os.path.join(work_dir, "snapshot_a")
        self.dir_b = os.path.join(work_dir, "snapshot_b")
        synth_imdb_tsv(self.dir_a, self.n_titles, self.n_names, seed)
        self.delta = self._write_delta()

    def path(self, snapshot_dir: str, dataset: str) -> str:
        return os.path.join(snapshot_dir, f"{dataset}.tsv.gz")

    def rows(self, snapshot_dir: str, dataset: str) -> list[list[str]]:
        with gzip.open(self.path(snapshot_dir, dataset), "rt") as f:
            return [line.rstrip("\n").split("\t") for line in f][1:]

    def _write_delta(self) -> dict[str, dict[str, int]]:
        """Snapshot B: append 1% new titles, change 5% of the ratings."""
        rng = random.Random(self.seed + 1)
        os.makedirs(self.dir_b, exist_ok=True)
        for d in DATASETS:
            if d not in ("title.basics", "title.ratings"):
                shutil.copyfile(self.path(self.dir_a, d), self.path(self.dir_b, d))
        added = self.n_titles // 100
        with gzip.open(self.path(self.dir_a, "title.basics"), "rt") as f:
            basics = f.read()
        new_rows = "".join(
            f"tt{i:08d}\tmovie\tNew {i}\tNew {i}\t0\t2024\t\\N\t90\tDrama\n"
            for i in range(self.n_titles + 1, self.n_titles + added + 1)
        )
        with gzip.open(self.path(self.dir_b, "title.basics"), "wt", compresslevel=1) as f:
            f.write(basics + new_rows)
        ratings = self.rows(self.dir_a, "title.ratings")
        changed = len(ratings) // 20
        for i in rng.sample(range(len(ratings)), changed):
            ratings[i][2] = str(int(ratings[i][2]) + 1)  # one more vote
        with gzip.open(self.path(self.dir_b, "title.ratings"), "wt", compresslevel=1) as f:
            f.write("tconst\taverageRating\tnumVotes\n")
            f.writelines("\t".join(r) + "\n" for r in ratings)
        stats = {TABLE_OF[d]: {"added": 0, "removed": 0, "changed": 0} for d in DATASETS}
        stats["TitleBasics"]["added"] = added
        stats["TitleRatings"]["changed"] = changed
        return stats

    def query_params(self) -> list[tuple[str, str]]:
        """One seeded (template, sql) pair per template."""
        rng = random.Random(self.seed + 2)
        params = {
            "directed_by_name": {"person": f"Person {rng.randint(1, self.n_names)}"},
            "character_in_movies": {"character": f"Role {rng.randrange(50)}"},
            "genre_rating_agg": {"year": 1920 + 10 * rng.randrange(10)},
        }
        return [(t, TEMPLATES[t].format(**params[t])) for t in TEMPLATES]

    def expected_row_counts(self) -> dict[str, int]:
        """Row count of every table after the pass (dataset tables hold
        snapshot B, normalized tables were built from snapshot A)."""

        def keep_first(rows, key_len):
            seen, out = set(), []
            for r in rows:
                if tuple(r[:key_len]) not in seen:
                    seen.add(tuple(r[:key_len]))
                    out.append(r)
            return out

        def null(v):
            return v == "\\N"

        a = {
            d: keep_first(self.rows(self.dir_a, d), 2 if d in ("title.akas", "title.principals") else 1)
            for d in DATASETS
        }
        counts = {TABLE_OF[d]: len(rows) for d, rows in a.items()}
        counts["TitleBasics"] += self.delta["TitleBasics"]["added"]
        titles = {r[0] for r in a["title.basics"]}
        names = {r[0] for r in a["name.basics"]}
        akas = [r for r in a["title.akas"] if r[0] in titles]
        principals = [r for r in a["title.principals"] if r[0] in titles and r[2] in names]
        char_lists = {r[5]: json.loads(r[5]) for r in a["title.principals"] if not null(r[5])}
        genres = [r[8].split(",") for r in a["title.basics"] if not null(r[8])]
        counts.update({
            "title_alias_type": len(_ALIAS_TYPES),
            "genre": len({g for gs in genres for g in gs}),
            "profession": len({r[3] for r in a["title.principals"]}),
            "title_type": len({r[1] for r in a["title.basics"]}),
            "name": len(names),
            "title": len(titles),
            "title_alias": len(akas),
            "title_alias_to_title_alias_type": sum(
                len(_alias_types(r[5])) for r in akas if not null(r[5])
            ),
            "episode": sum(
                1 for r in a["title.episode"] if r[0] in titles and r[1] in titles
            ),
            "participation": len(principals),
            "character": len({c for cs in char_lists.values() for c in cs}),
            "temp_characters_to_character": sum(len(cs) for cs in char_lists.values()),
            "participation_to_character": sum(
                len(char_lists[r[5]]) for r in principals if not null(r[5])
            ),
            "name_to_known_for_title": sum(
                sum(1 for t in r[5].split(",") if t in titles)
                for r in a["name.basics"] if not null(r[5])
            ),
            "title_to_genre": sum(len(gs) for gs in genres),
        })
        return counts

    def tsv_data_rows(self, snapshot_dir: str) -> dict[str, int]:
        return {TABLE_OF[d]: len(self.rows(snapshot_dir, d)) for d in DATASETS}

    def tsv_bytes(self, snapshot_dir: str) -> int:
        """Uncompressed bytes of the snapshot's TSV files."""
        total = 0
        for d in DATASETS:
            with gzip.open(self.path(snapshot_dir, d), "rb") as f:
                total += len(f.read())
        return total


def _alias_types(raw: str) -> list[str]:
    out, remaining = [], raw
    for known in _ALIAS_TYPES:
        if known in remaining:
            out.append(known)
            remaining = remaining.replace(known, "")
    return out


def table_rows(db_dir: str) -> dict[str, int]:
    """Rows per table from the parquet footers."""
    import pyarrow.parquet as pq

    out = {}
    for entry in sorted(os.listdir(db_dir)):
        if entry.endswith(".parquet"):
            path = os.path.join(db_dir, entry)
            out[entry[: -len(".parquet")]] = sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path) if f.endswith(".parquet")
            )
    return out


def parquet_footprint(db_dir: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``db_dir``."""
    size = files = 0
    for root, _, names in os.walk(db_dir):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def replay_queries(db_dir: str, outputs: list[tuple]) -> list[bool]:
    """Re-run each query on DuckDB over the built parquet and compare the
    hash of its rows, formatted as print_tsv formats them, with the
    streamed output."""
    import duckdb

    con = duckdb.connect()
    try:
        for table in table_rows(db_dir):
            con.execute(
                f'CREATE VIEW "{table}" AS SELECT * FROM '
                f"read_parquet('{db_dir}/{table}.parquet/*.parquet')"
            )
        ok = []
        for _, sql, streamed, _ in outputs:
            res = con.execute(sql.replace("`", '"'))
            lines = [
                "\t".join("\\N" if v is None else str(v) for v in row)
                for row in res.fetchall()
            ]
            header, *rows = streamed.splitlines()
            ok.append(
                header.split("\t") == [d[0] for d in res.description]
                and _digest(rows) == _digest(lines)
            )
        return ok
    finally:
        con.close()


def run_pass(spark, snaps: Snapshots, db_dir: str, tracer) -> dict:
    """One measured pass; returns op latencies and what the checks need."""
    from pimdb_spark.ingest import incremental_transfer, transfer
    from pimdb_spark.plans.build import NormalizedBuild
    from pimdb_spark.plans.store import ParquetDatabase
    from pimdb_spark.sources.tsv import print_tsv

    if os.path.exists(db_dir):
        shutil.rmtree(db_dir)
    db = ParquetDatabase(spark, db_dir)
    out: dict = {"build_timings": {}, "queries": []}
    t0 = time.perf_counter()
    with tracer.span("ingest.transfer"):
        transfer(spark, snaps.dir_a, db)
    t1 = time.perf_counter()
    with tracer.span("plans.build.run"):
        NormalizedBuild(db).run(timings=out["build_timings"])
    t2 = time.perf_counter()
    with tracer.span("ingest.incremental_transfer"):
        out["refresh_stats"] = incremental_transfer(spark, snaps.dir_b, db)
    t3 = time.perf_counter()
    out.update(transfer_s=t1 - t0, build_s=t2 - t1, refresh_s=t3 - t2)
    for template, sql in snaps.query_params():
        sink = io.StringIO()
        with tracer.span("query", template=template):
            q0 = time.perf_counter()
            df = db.sql(sql)
            with tracer.span("sources.tsv.print_tsv"), contextlib.redirect_stdout(sink):
                print_tsv(df)
            ms = (time.perf_counter() - q0) * 1e3
        out["queries"].append((template, sql, sink.getvalue(), ms))
    return out
