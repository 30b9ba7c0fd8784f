"""Normalized-build semantics: every step of the 14-step DAG
(SURVEY §3.2) asserted against hand-computed expectations on the fixture."""

from __future__ import annotations

import pytest


def rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def ids_by_name(db, table):
    return {r.name: r.id for r in db.read(table).collect()}


def test_key_tables_sorted_rank_ids(built_db):
    """O1: id == 1-based rank of name in sorted order (database.py:631-635).
    'actor' only occurs on a dedup-dropped row, so it must NOT appear."""
    assert rows(built_db.read("genre"), "id", "name") == [
        (1, "Action"),
        (2, "Comedy"),
        (3, "Drama"),
    ]
    assert rows(built_db.read("title_type"), "id", "name") == [
        (1, "movie"),
        (2, "tvEpisode"),
        (3, "tvSeries"),
    ]
    assert rows(built_db.read("profession"), "id", "name") == [
        (1, "actress"),
        (2, "director"),
        (3, "self"),
    ]


def test_title_alias_type_static(built_db):
    """Static 8-value key table, sorted ids (database.py:637-639)."""
    expected = sorted(
        ["alternative", "dvd", "festival", "tv", "video", "working", "original", "imdbDisplay"]
    )
    assert rows(built_db.read("title_alias_type"), "id", "name") == [
        (i + 1, n) for i, n in enumerate(expected)
    ]


def test_title_rating_defaults_and_ids(built_db):
    """J1: left join ratings, coalesce to 0 (database.py:907-918); ids are
    rank-by-tconst."""
    t = built_db.read("title")
    got = {r.tconst: r for r in t.collect()}
    assert [got[k].id for k in sorted(got)] == [1, 2, 3, 4]
    assert got["tt0000001"].average_rating == 7.5
    assert got["tt0000001"].rating_count == 1000
    assert got["tt0000003"].average_rating == 0.0
    assert got["tt0000003"].rating_count == 0
    assert got["tt0000004"].title_type_id == 1  # movie


def test_name_projection(built_db):
    n = built_db.read("name")
    got = {r.nconst: r for r in n.collect()}
    assert len(got) == 3
    assert got["nm0000001"].primary_name == "Alice Actor"
    assert got["nm0000001"].primary_professions == "actress,producer"
    assert got["nm0000003"].birth_year is None


def test_episode_drops_unknown_parent(built_db):
    """J3: inner self-joins drop episodes whose parentTconst is unknown
    (database.py:944-980)."""
    e = built_db.read("episode")
    assert rows(e, "title_id", "parent_title_id", "season", "episode") == [(3, 2, 1, 1)]


def test_known_for_title_skip_and_renumber(built_db):
    """E2: dangling tconsts are skipped and ordering renumbers densely
    (database.py:858-874)."""
    db = built_db
    name_id = {r.nconst: r.id for r in db.read("name").collect()}
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    got = rows(db.read("name_to_known_for_title"), "name_id", "ordering", "title_id")
    assert got == sorted(
        [
            (name_id["nm0000001"], 1, title_id["tt0000001"]),  # tt9999999 skipped
            (name_id["nm0000001"], 2, title_id["tt0000002"]),  # renumbered densely
            (name_id["nm0000002"], 1, title_id["tt0000002"]),
        ]
    )


def test_title_to_genre_ordering(built_db):
    """E1: ordering follows comma-list position (database.py:996-1001)."""
    db = built_db
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    genre_id = ids_by_name(db, "genre")
    got = rows(db.read("title_to_genre"), "title_id", "ordering", "genre_id")
    assert got == sorted(
        [
            (title_id["tt0000001"], 1, genre_id["Action"]),
            (title_id["tt0000001"], 2, genre_id["Comedy"]),
            (title_id["tt0000002"], 1, genre_id["Drama"]),
            (title_id["tt0000003"], 1, genre_id["Drama"]),
            (title_id["tt0000003"], 2, genre_id["Comedy"]),
        ]
    )


def test_character_and_temp_map(built_db):
    """E3: distinct JSONs parsed once; character ids ranked by name; per-JSON
    list order preserved (database.py:705-763)."""
    db = built_db
    assert rows(db.read("character"), "id", "name") == [(1, "Jane"), (2, "Queen"), (3, "Self")]
    got = rows(db.read("temp_characters_to_character"), "characters", "ordering", "character_id")
    assert got == sorted(
        [
            ('["Jane", "Queen"]', 1, 1),
            ('["Jane", "Queen"]', 2, 2),
            ('["Self"]', 1, 3),
        ]
    )


def test_participation(built_db):
    """J2: one row per surviving principals row; profession resolved;
    ids ranked by (title_id, ordering) (database.py:669-703)."""
    db = built_db
    p = db.read("participation")
    assert p.count() == 5
    prof_id = ids_by_name(db, "profession")
    name_id = {r.nconst: r.id for r in db.read("name").collect()}
    got = rows(p, "id", "title_id", "ordering", "name_id", "profession_id")
    assert got == [
        (1, 1, 1, name_id["nm0000001"], prof_id["actress"]),
        (2, 1, 2, name_id["nm0000002"], prof_id["director"]),
        (3, 2, 1, name_id["nm0000001"], prof_id["actress"]),
        (4, 2, 2, name_id["nm0000003"], prof_id["self"]),
        (5, 3, 1, name_id["nm0000003"], prof_id["self"]),
    ]


def test_participation_to_character(built_db):
    """J6: 5-way join + DISTINCT (database.py:765-811)."""
    db = built_db
    char_id = ids_by_name(db, "character")
    got = rows(db.read("participation_to_character"), "participation_id", "ordering", "character_id")
    assert got == sorted(
        [
            (1, 1, char_id["Jane"]),
            (1, 2, char_id["Queen"]),
            (3, 1, char_id["Jane"]),
            (3, 2, char_id["Queen"]),
            (4, 1, char_id["Self"]),
            (5, 1, char_id["Self"]),
        ]
    )


def test_title_alias(built_db):
    """J4: ordering/region/language pass through; dedup dropped the
    (tt0000001, 1) duplicate before the join (database.py:1031-1063)."""
    db = built_db
    ta = db.read("title_alias")
    assert ta.count() == 4
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    got = {
        (r.title_id, r.ordering): (r.title, r.region_code, r.is_original_title)
        for r in ta.collect()
    }
    assert got[(title_id["tt0000001"], 1)] == ("First Movie", "US", False)
    assert got[(title_id["tt0000001"], 2)] == ("Erste Film", "DE", None)
    assert got[(title_id["tt0000002"], 1)] == ("The Series", None, True)


def test_alias_type_greedy_decomposition(built_db):
    """E4 (database.py:1003-1029): tokens matched in DECLARATION order
    (alternative, dvd, festival, tv, video, working, original, imdbDisplay),
    each match removed from the remainder; unknown leftovers ignored.

    'festivalworking'      -> [festival, working]
    'originalalternative'  -> [alternative, original]  (declaration order!)
    'bogustype'            -> []
    'imdbDisplay'          -> [imdbDisplay]
    """
    db = built_db
    ta = db.read("title_alias")
    title_id = {r.tconst: r.id for r in db.read("title").collect()}
    alias_id = {(r.title_id, r.ordering): r.id for r in ta.collect()}
    tat_id = ids_by_name(db, "title_alias_type")
    got = rows(
        db.read("title_alias_to_title_alias_type"),
        "title_alias_id",
        "ordering",
        "title_alias_type_id",
    )
    assert got == sorted(
        [
            (alias_id[(title_id["tt0000001"], 1)], 1, tat_id["imdbDisplay"]),
            (alias_id[(title_id["tt0000001"], 2)], 1, tat_id["festival"]),
            (alias_id[(title_id["tt0000001"], 2)], 2, tat_id["working"]),
            (alias_id[(title_id["tt0000002"], 1)], 1, tat_id["alternative"]),
            (alias_id[(title_id["tt0000002"], 1)], 2, tat_id["original"]),
        ]
    )


def test_mappable_title_alias_types_unit():
    from pimdb_spark.plans.build import mappable_title_alias_types as m

    assert m(None) == []
    assert m("") == []
    assert m("imdbDisplay") == ["imdbDisplay"]
    assert m("festivalworking") == ["festival", "working"]
    assert m("originalalternative") == ["alternative", "original"]
    assert m("bogustype") == []
    # removal is global: repeated token contributes once
    assert m("dvddvd") == ["dvd"]


def test_compact_reduces_files_and_preserves_rows(spark, tmp_path):
    import glob

    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    df = spark.range(10_000).withColumnRenamed("id", "k")
    df.repartition(40).write.parquet(db.path("t"))  # simulate small-file debris
    before = len(glob.glob(db.path("t") + "/*.parquet"))
    assert before >= 40

    n = db.compact("t", target_file_mb=512)  # tiny table -> single file
    after = len(glob.glob(db.path("t") + "/*.parquet"))
    assert n == 1 and after == 1
    got = db.read("t")
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).first()[0] == sum(range(10_000))


def test_compact_bucketed_preserves_layout_and_self_read(spark, tmp_path):
    """compact() on a bucketed table must keep the bucketed layout (a
    plain-file rewrite under a live bucketed catalog entry makes the scan
    reject non-bucket-named files), and the rewrite reads from the very
    table being replaced — the temp-write-then-swap protocol makes that
    safe (old files outlive the new write)."""
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"), bucket_spec={"t": ("k", 4)})
    df = spark.range(5_000).withColumnRenamed("id", "k")
    db.write(df, "t")
    assert spark.catalog.tableExists(db._catalog_name("t"))

    n = db.compact("t")
    assert n == 4  # bucket count fixes the file count
    got = db.read("t")  # bucketed catalog relation must still scan cleanly
    assert got.count() == 5_000
    assert got.agg({"k": "sum"}).first()[0] == sum(range(5_000))
    # layout survived: catalog metadata still declares 4 buckets ...
    desc = spark.sql(f"DESCRIBE FORMATTED {db._catalog_name('t')}").collect()
    desc_map = {r[0]: r[1] for r in desc}
    assert desc_map.get("Num Buckets") == "4", desc_map
    # ... and the files honor it: a bucketed self-join plans zero Exchanges
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = db.read("t")
        b = db.read("t").withColumnRenamed("k", "k2")
        j = a.join(b, a["k"] == b["k2"])
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange" not in plan, plan[:2000]


def test_write_replaces_table_from_filtered_self_read(spark, tmp_path):
    """A table rewritten from a filtered read of itself keeps exactly the
    filtered rows: the new files are complete before the old ones go, so
    the job never reads a file the write already deleted."""
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(spark.range(100).withColumnRenamed("id", "k"), "t")
    db.write(db.read("t").filter("k < 50"), "t")
    assert sorted(r.k for r in db.read("t").collect()) == list(range(50))


def test_failed_write_keeps_previous_table(spark, tmp_path):
    """A write whose job fails leaves the previous table readable with all
    its rows, and leaves no temp or swap debris in the database dir."""
    import os

    from pyspark.sql import functions as F

    from pimdb_spark.plans.store import ParquetDatabase

    @F.udf("long")
    def fail_on_seven(k):
        if k == 7:
            raise ValueError("row 7 is poisoned")
        return k

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(spark.range(100).withColumnRenamed("id", "k"), "t")
    with pytest.raises(Exception):
        db.write(spark.range(100).select(fail_on_seven("id").alias("k")), "t")
    got = db.read("t")
    assert got.count() == 100
    assert got.agg({"k": "sum"}).first()[0] == sum(range(100))
    debris = [
        f for f in os.listdir(db.db_dir) if f.endswith((".tmp", ".swap.old"))
    ]
    assert debris == []


def test_write_sorted_drops_stale_bucket_entry(spark, tmp_path):
    """write_sorted over a previously-bucketed table replaces the layout:
    the bucketed catalog entry must be dropped so read() returns the plain
    parquet relation instead of a bucketed scan over unbucketed files."""
    from pimdb_spark.plans.store import ParquetDatabase, write_sorted

    db = ParquetDatabase(spark, str(tmp_path / "db"), bucket_spec={"t": ("k", 4)})
    df = spark.range(2_000).withColumnRenamed("id", "k")
    db.write(df, "t")
    assert spark.catalog.tableExists(db._catalog_name("t"))

    write_sorted(db, spark.range(2_000).withColumnRenamed("id", "k"), "t", "k",
                 num_files=2)
    assert not spark.catalog.tableExists(db._catalog_name("t"))
    assert "t" not in db.bucket_spec
    got = db.read("t")
    assert got.count() == 2_000


def spark_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs, counted through a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def count_views_created(spark, monkeypatch) -> list[str]:
    """Names passed to createOrReplaceTempView from now on."""
    created: list[str] = []
    cls = type(spark.range(1))
    original = cls.createOrReplaceTempView

    def spy(df, name):
        created.append(name)
        return original(df, name)

    monkeypatch.setattr(cls, "createOrReplaceTempView", spy)
    return created


@pytest.mark.parametrize("replace", ["db_write", "replace_directory"])
def test_replaced_table_shows_new_columns_and_rows(spark, tmp_path, replace):
    """After a table is replaced — through the database, or by a writer
    that bypasses it — read() and sql() both see the new version, even
    though the old version's schema and view were already resolved."""
    from pimdb_spark.plans.store import ParquetDatabase, replace_directory

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(spark.range(3).withColumnRenamed("id", "k"), "t")
    assert rows(db.read("t"), "k") == [(0,), (1,), (2,)]
    assert [tuple(r) for r in db.sql("select * from t order by k").collect()] == [
        (0,), (1,), (2,)
    ]

    new = spark.range(10, 12).selectExpr("id as k", "cast(id * 2 as string) as v")
    if replace == "db_write":
        db.write(new, "t")
    else:
        replace_directory(db.path("t"), new.write.parquet)

    want = [(10, "20"), (11, "22")]
    got = db.read("t")
    assert got.columns == ["k", "v"]
    assert rows(got, "k", "v") == want
    assert [tuple(r) for r in db.sql("select * from t order by k").collect()] == want


def test_register_all_recreates_only_changed_views(spark, tmp_path, monkeypatch):
    """A second register_all over unchanged tables runs no Spark job and
    re-creates no view; after one table is rewritten, only its view is
    re-created."""
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    for t in ("a", "b", "c"):
        df = spark.range(5).withColumnRenamed("id", "k")
        df.write.parquet(db.path(t))  # written outside the db: nothing cached
    db.register_all()

    created = count_views_created(spark, monkeypatch)
    assert spark_jobs(spark, db.register_all) == 0
    assert created == []

    db.write(spark.range(7).withColumnRenamed("id", "k"), "b")
    db.register_all()
    assert created == ["b"]
    assert spark.sql("select count(*) from b").first()[0] == 7


def test_read_of_written_table_runs_no_job(spark, tmp_path):
    """A table this process just wrote reads back with no footer job, and
    with exactly the schema Spark infers from its files."""
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    df = spark.range(4).selectExpr(
        "id",
        "cast(id as int) as i",
        "array(id, null) as a",
        "map('k', id) as m",
        "named_struct('x', id, 'y', array(named_struct('z', 1))) as st",
        "cast(id as decimal(10, 2)) as d",
        "current_timestamp() as ts",
    )
    db.write(df, "t")
    got = []
    assert spark_jobs(spark, lambda: got.append(db.read("t"))) == 0
    assert got[0].schema == spark.read.parquet(db.path("t")).schema
    assert got[0].count() == 4


def test_partitioned_table_keeps_inferred_partition_types(spark, tmp_path):
    """Spark types a partition column from its directory names (bigint
    ``p`` reads back as int), so a partitioned table's schema is the
    inferred one both before and after it is cached."""
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(spark.range(9).selectExpr("id", "id % 3 as p"), "t", partition_by="p")
    inferred = spark.read.parquet(db.path("t")).schema
    assert dict((f.name, f.dataType.simpleString()) for f in inferred)["p"] == "int"
    assert db.read("t").schema == inferred  # first read: inferred and cached
    got = []
    assert spark_jobs(spark, lambda: got.append(db.read("t"))) == 0
    assert got[0].schema == inferred
    assert rows(got[0], "id", "p") == [(i, i % 3) for i in range(9)]


def test_two_databases_same_table_name_in_one_session(spark, tmp_path):
    """Each database's sql() sees its own table ``t`` even when another
    database registered a view of the same name in between."""
    from pimdb_spark.plans.store import ParquetDatabase

    db1 = ParquetDatabase(spark, str(tmp_path / "db1"))
    db2 = ParquetDatabase(spark, str(tmp_path / "db2"))
    db1.write(spark.range(0, 3).withColumnRenamed("id", "k"), "t")
    db2.write(spark.range(100, 102).withColumnRenamed("id", "k"), "t")
    for db, want in ((db1, [0, 1, 2]), (db2, [100, 101]), (db1, [0, 1, 2])):
        assert sorted(r.k for r in db.sql("select * from t").collect()) == want


def test_drop_removes_registered_view(spark, tmp_path):
    """drop()/drop_obsolete() remove the view register_all() made of the
    table, so a later query reports "not found" instead of failing on
    deleted files; another database's view of the same name stays."""
    from pyspark.errors import AnalysisException

    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    other = ParquetDatabase(spark, str(tmp_path / "other"))
    for t in ("t", "u"):
        db.write(spark.range(3).withColumnRenamed("id", "k"), t)
    other.write(spark.range(5).withColumnRenamed("id", "k"), "w")
    assert db.sql("select count(*) from t").first()[0] == 3
    assert other.sql("select count(*) from w").first()[0] == 5

    db.drop("t")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        db.sql("select * from t").collect()

    db.write(spark.range(2).withColumnRenamed("id", "k"), "w")
    assert db.sql("select count(*) from w").first()[0] == 2
    db.drop_obsolete(keep=["w"])
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        db.sql("select * from u").collect()
    other.write(spark.range(6).withColumnRenamed("id", "k"), "w")
    db.drop("w")  # the view ``w`` is now other's: it stays
    assert other.sql("select count(*) from w").first()[0] == 6


def test_ensure_worker_code_ships_once(spark):
    from pimdb_spark import catalog

    catalog.ensure_worker_code(spark)
    app = spark.sparkContext.applicationId
    assert app in catalog._SHIPPED_APPS
    n = len(catalog._SHIPPED_APPS)
    catalog.ensure_worker_code(spark)  # idempotent per context
    assert len(catalog._SHIPPED_APPS) == n
    # the shipped zip is visible to the context (and thus to every executor)
    files = spark.sparkContext.listFiles
    assert any("pimdb_spark_" in f for f in files)


def test_surrogate_id_bigint_and_cache_released(spark):
    """with_surrogate_id must (a) assign bigint ids — int32 silently
    overflows on billion-row tables — and (b) leave no persisted frame
    behind once release_id_caches() runs (the 16-table build would
    otherwise accumulate a cached copy of every large table)."""
    from pyspark.sql.types import LongType

    from pimdb_spark.functions import ids

    df = spark.range(0, 5000).selectExpr("cast(id as string) AS v")
    out = ids.with_surrogate_id(df, ["v"], id_col="rid")
    assert isinstance(out.schema["rid"].dataType, LongType)
    got = out.agg({"rid": "max"}).first()[0]
    assert got == 5000
    assert ids._live_persists  # cache held until the caller materializes
    ids.release_id_caches()
    assert not ids._live_persists


def test_build_leaves_no_persisted_frames(built_db):
    """After NormalizedBuild.run() every with_surrogate_id cache must have
    been released — nothing from the build may still be pinned in executor
    storage."""
    from pimdb_spark.functions import ids

    assert not ids._live_persists


def test_to_jdbc_plumbing(spark, tmp_path, monkeypatch):
    """No JDBC driver ships in this environment, so the writer itself is
    monkeypatched; what's under test is the plumbing contract: the stored
    table is read back, coalesced to the requested connection count, and
    handed to DataFrameWriter.jdbc with mode/url/table/properties intact."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    db.write(spark.range(100).selectExpr("id AS k", "id * 2 AS v"), "t")

    calls = {}

    def fake_jdbc(self, url, table, mode=None, properties=None):
        calls["url"] = url
        calls["table"] = table
        calls["mode"] = self._jwrite.toString()  # not inspectable; just record
        calls["properties"] = properties
        calls["rows"] = self._df.count()
        calls["partitions"] = self._df.rdd.getNumPartitions()

    monkeypatch.setattr(DataFrameWriter, "jdbc", fake_jdbc)
    db.to_jdbc(
        "t",
        "jdbc:postgresql://host/db",
        num_partitions=2,
        user="u",
        password="p",
        batchsize="500",
    )
    assert calls["url"] == "jdbc:postgresql://host/db"
    assert calls["table"] == "t"
    assert calls["properties"] == {"user": "u", "password": "p", "batchsize": "500"}
    assert calls["rows"] == 100
    assert calls["partitions"] == 2


def test_bucketed_build_plan_and_parity(spark, imdb_fixture_dir, tmp_path_factory):
    """imdb_bucket_spec wired through ParquetDatabase: (a) the episode
    double self-join drops to exactly ONE Exchange (the irreducible
    parentTconst rekey of the intermediate — both bucketed tconst probes
    are exchange-free), vs >= 3 unbucketed; (b) every normalized table is
    row-identical to the unbucketed build (the session-scoped built_db)."""
    import contextlib
    import io

    from pimdb_spark.ingest import transfer
    from pimdb_spark.plans.build import NormalizedBuild, imdb_bucket_spec
    from pimdb_spark.plans.store import ParquetDatabase

    db_dir = str(tmp_path_factory.mktemp("imdb_db_bucketed"))
    db = ParquetDatabase(spark, db_dir, bucket_spec=imdb_bucket_spec(4))
    transfer(spark, imdb_fixture_dir, db)
    build = NormalizedBuild(db)

    def n_exchanges(df) -> int:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        return sum(
            1
            for line in tree.splitlines()
            if line.split("(")[0].strip().lstrip("+-: ").strip() == "Exchange"
        )

    # build up to title so the bucketed episode inputs exist
    db.write(build.build_title_type(), "title_type")
    db.write(build.build_title(), "title")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        got = n_exchanges(build.build_episode())
        assert got == 1, f"bucketed episode plan has {got} Exchanges, want 1"

        plain_db = ParquetDatabase(spark, db_dir)  # same files, no bucket info
        plain = n_exchanges(NormalizedBuild(plain_db).build_episode())
        assert plain >= 3, f"unbucketed episode plan has {plain} Exchanges"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_build_matches_unbucketed(built_db, spark, imdb_fixture_dir, tmp_path_factory):
    """Full-DAG parity: a bucketed build produces row-identical normalized
    tables to the unbucketed session build."""
    from pimdb_spark.ingest import transfer
    from pimdb_spark.plans.build import NormalizedBuild, imdb_bucket_spec
    from pimdb_spark.plans.store import ParquetDatabase
    from pimdb_spark.schemas import NORMALIZED_TABLE_NAMES

    db_dir = str(tmp_path_factory.mktemp("imdb_db_bucketed_parity"))
    db = ParquetDatabase(spark, db_dir, bucket_spec=imdb_bucket_spec(4))
    transfer(spark, imdb_fixture_dir, db)
    NormalizedBuild(db).run()
    for table in NORMALIZED_TABLE_NAMES:
        want = sorted(map(tuple, built_db.read(table).collect()))
        got = sorted(map(tuple, db.read(table).collect()))
        assert got == want, f"bucketed {table} differs from unbucketed"


def test_write_sorted_clusters_ranges(spark, tmp_path):
    """write_sorted must produce files whose min/max ranges of the sort
    column are disjoint (global range clustering), so footer stats can
    skip whole files for range predicates."""
    import glob

    import pyarrow.parquet as pq

    from pimdb_spark.plans.store import ParquetDatabase, write_sorted

    db = ParquetDatabase(spark, str(tmp_path / "db"))
    df = spark.range(10_000).selectExpr("id AS k", "id % 97 AS v").repartition(8)
    write_sorted(db, df, "t", "k", num_files=4)

    ranges = []
    for f in glob.glob(db.path("t") + "/*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint: a k-range filter prunes whole files
    got = db.read("t")
    assert got.count() == 10_000
    assert got.agg({"k": "sum"}).first()[0] == sum(range(10_000))


def test_analyze_collects_stats_for_bucketed(spark, tmp_path):
    from pimdb_spark.plans.store import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "db"), bucket_spec={"t": ("k", 4)})
    db.write(spark.range(1000).selectExpr("id AS k", "id % 7 AS v"), "t")
    assert db.analyze("t", columns=["k"])
    desc = spark.sql(f"DESCRIBE EXTENDED {db._catalog_name('t')}").collect()
    stats = [r.data_type for r in desc if r.col_name == "Statistics"]
    assert stats and "1000 rows" in stats[0]
    # non-bucketed tables are a documented no-op
    db2 = ParquetDatabase(spark, str(tmp_path / "db2"))
    db2.write(spark.range(10).selectExpr("id AS k"), "t")
    assert db2.analyze("t") is False
