from __future__ import annotations

from entitymatch_spark.sources.readers import (
    is_table_name,
    read_csv_phrases,
    read_pages,
    write_table,
)
from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus


def test_pages_parquet_roundtrip(spark, tmp_path):
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=5, seed=1))["pages"].drop(
        "cluster_id"
    )
    write_table(pages, str(tmp_path / "pages_pq"))
    back = read_pages(spark, str(tmp_path / "pages_pq"))
    assert back.count() == pages.count()
    assert set(back.columns) == set(pages.columns)
    a = {tuple(sorted(r.asDict().items())) for r in pages.drop("html").collect()}
    b = {tuple(sorted(r.asDict().items())) for r in back.drop("html").collect()}
    assert a == b


def test_table_branch_read_and_write(spark):
    """Exercise the catalog-table branch of read_pages/write_table (no
    Iceberg jar in this container, so the read goes through a view and
    the write through the documented saveAsTable fallback) — the
    production code path, not dead code."""
    pages = corpus_to_spark(spark, generate_corpus(n_clusters=3, seed=2))["pages"].drop(
        "cluster_id", "html"
    )
    pages.createOrReplaceTempView("pages_tbl_view")
    back = read_pages(spark, "pages_tbl_view")  # spark.table(...) branch
    assert back.count() == pages.count()

    # pre-clean BOTH catalog and warehouse location: a dir left by a
    # previous session (whose in-memory catalog died with it) makes the
    # managed-table create fail with LOCATION_ALREADY_EXISTS
    import shutil
    from urllib.parse import urlparse

    spark.sql("DROP TABLE IF EXISTS default.pages_tbl_rt")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(f"{wh}/pages_tbl_rt", ignore_errors=True)

    write_table(pages, "default.pages_tbl_rt", mode="overwrite")
    rt = read_pages(spark, "default.pages_tbl_rt")
    assert rt.count() == pages.count()
    assert set(rt.columns) == set(pages.columns)
    write_table(pages, "default.pages_tbl_rt", mode="append")
    assert read_pages(spark, "default.pages_tbl_rt").count() == 2 * pages.count()
    spark.sql("DROP TABLE IF EXISTS default.pages_tbl_rt")


def test_write_table_reraises_noncapability_errors(spark):
    """Only catalog-capability failures may fall back to V1; a genuine
    analysis error (target is a VIEW) must surface as-is, not be
    retried through saveAsTable."""
    import pytest
    from pyspark.errors import AnalysisException

    pages = corpus_to_spark(spark, generate_corpus(n_clusters=2, seed=4))["pages"].drop(
        "cluster_id", "html"
    )
    pages.createOrReplaceTempView("wt_view")
    with pytest.raises(AnalysisException, match="(?i)view"):
        write_table(pages, "wt_view", mode="append")


def test_is_table_name():
    assert is_table_name("iceberg.web.pages")
    assert not is_table_name("/root/testdata/sf0.01")
    assert not is_table_name("data/pages.parquet")


def test_read_csv_phrases(spark, tmp_path):
    # DVD.txt shape: header + quoted fields with embedded commas/quotes
    p = tmp_path / "dvd.csv"
    p.write_text(
        'title,year\n"The Dark Knight",2008\n"Good, The Bad",1966\n"He said ""hi""",2000\n'
    )
    ents = read_csv_phrases(spark, str(p))
    rows = {r["phrase"] for r in ents.collect()}
    assert rows == {"The Dark Knight", "Good, The Bad", 'He said "hi"'}
    ids = sorted(r["entity_id"] for r in ents.collect())
    assert ids == [0, 1, 2]


def test_write_table_honors_error_and_ignore_modes(spark):
    """errorifexists/ignore previously coerced to APPEND on table
    targets (silent duplication); they must raise / no-op instead."""
    import pytest

    from entitymatch_spark.sources.readers import write_table

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    name = "t_mode_guard"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        write_table(df, name, mode="error")          # absent -> create
        assert spark.table(name).count() == 1
        with pytest.raises(ValueError, match="already exists"):
            write_table(df, name, mode="error")
        with pytest.raises(ValueError, match="already exists"):
            write_table(df, name, mode="errorifexists")
        write_table(df, name, mode="ignore")         # exists -> no-op
        assert spark.table(name).count() == 1        # NOT duplicated
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_write_table_error_mode_has_no_check_then_act_race(spark, monkeypatch):
    """error/ignore must not rest on a tableExists check: a table created
    between the check and the write (here: a check that misses it) must
    still raise / no-op, never get duplicate rows appended."""
    import pytest

    from entitymatch_spark.sources.readers import write_table

    df = spark.createDataFrame([(1, "a")], "id long, v string")
    name = "t_mode_race"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    try:
        write_table(df, name, mode="error")
        monkeypatch.setattr(spark.catalog, "tableExists", lambda *a, **k: False)
        with pytest.raises(ValueError, match="already exists"):
            write_table(df, name, mode="error")
        write_table(df, name, mode="ignore")
        assert spark.table(name).count() == 1
    finally:
        monkeypatch.undo()
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_multimodal_guards_and_video_scoping(spark):
    import pytest

    from entitymatch_spark.operators.multimodal import resize_media, sample_frames

    media = spark.createDataFrame(
        [("v1", b"\x01\x02", "video"), ("i1", b"\x03", "image")],
        "doc_id string, payload binary, media_type string",
    )
    with pytest.raises(ValueError, match="out_w/out_h"):
        resize_media(media, out_h=0)
    # media_type scoping: image rows grow no phantom frames
    frames = sample_frames(media, media_type_col="media_type").collect()
    assert {r["doc_id"] for r in frames} == {"v1"}
    # default (no type column named) keeps the old sample-everything shape
    assert {r["doc_id"] for r in sample_frames(media).collect()} == {"v1", "i1"}
