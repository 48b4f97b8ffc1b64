"""HTTP source (S1-S3) with hermetic fake transport.

All transports/url-builders are defined INSIDE the tests: nested
functions cloudpickle by value, while module-level functions in a
test file pickle by reference to a module Spark executors can't
import.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from museum_image_etl_gridfs_spark.sources.http import (
    fetch_binary,
    fetch_json,
    ids_dataframe,
    make_json_transport,
    project_metadata,
)


def _fixtures():
    def url(i: int) -> str:
        return f"https://api.example.test/objects/{i}"

    pages = {
        url(1): {"title": "Sunflowers", "artistDisplayName": "van Gogh",
                 "primaryImage": "https://img.example.test/1.jpg"},
        url(2): {"title": "Water Lilies", "artistDisplayName": "",
                 "primaryImage": ""},
    }
    return url, make_json_transport(pages)


def test_fetch_json_statuses(spark):
    url, transport = _fixtures()
    ids = ids_dataframe(spark, [1, 2, 3])
    out = fetch_json(ids, url, transport, num_partitions=2)
    rows = {r["object_id"]: r for r in out.collect()}
    assert rows[1]["status"] == 200 and "Sunflowers" in rows[1]["body"]
    assert rows[2]["status"] == 200
    assert rows[3]["status"] == 404 and rows[3]["body"] == ""


def test_project_metadata_renames_and_literals(spark):
    url, transport = _fixtures()
    ids = ids_dataframe(spark, [1, 2])
    fetched = fetch_json(ids, url, transport, num_partitions=2)
    meta = project_metadata(
        fetched.filter(F.col("status") == 200),
        {"title": "title", "artistDisplayName": "artist",
         "primaryImage": "image_url"},
        "The Example API",
    )
    rows = {r["object_id"]: r for r in meta.collect()}
    assert rows[1]["artist"] == "van Gogh"
    assert rows[1]["source"] == "The Example API"
    assert rows[1]["created_at"] is not None
    assert rows[2]["image_url"] == ""  # F2: empty URL survives to filter


def test_fetch_binary_skips_empty_urls(spark):
    blobs = {"https://img.example.test/1.jpg": (200, b"\xff\xd8jpegbytes")}

    def transport(url):
        return blobs.get(url, (404, b""))

    df = spark.createDataFrame(
        [(1, "https://img.example.test/1.jpg"), (2, ""), (3, None)],
        "object_id long, image_url string",
    )
    out = fetch_binary(df, "image_url", transport, num_partitions=2)
    rows = {r["object_id"]: r for r in out.collect()}
    assert rows[1]["data_status"] == 200
    assert bytes(rows[1]["data"]) == b"\xff\xd8jpegbytes"
    assert rows[2]["data_status"] == 0 and rows[2]["data"] is None
    assert rows[3]["data_status"] == 0


def test_end_to_end_ingest_slice(spark):
    """S1→S2→P1→F2→S3: the reference's ingestion retraced on fakes."""
    url, json_t = _fixtures()
    img_url = "https://img.example.test/1.jpg"

    def bin_t(u):
        return (200, b"IMAGEBYTES") if u == img_url else (404, b"")

    ids = ids_dataframe(spark, [1, 2, 3])
    fetched = fetch_json(ids, url, json_t, num_partitions=2)
    meta = project_metadata(
        fetched.filter(F.col("status") == 200),
        {"title": "title", "primaryImage": "image_url"},
        "The Example API",
    )
    with_imgs = fetch_binary(
        meta.filter(F.col("image_url").isNotNull() & (F.col("image_url") != "")),
        "image_url",
        bin_t,
        num_partitions=2,
    )
    rows = with_imgs.collect()
    assert len(rows) == 1  # only object 1 has a non-empty URL
    assert bytes(rows[0]["data"]) == b"IMAGEBYTES"
