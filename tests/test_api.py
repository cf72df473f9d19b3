"""API-layer tests: the six reference routes (ingestion/app.py:47-93)
driven end-to-end through the Flask test client, replicating the
workflow's check → gate → ingest → poll loop (workflow.yaml:14-84).
"""

import time

import pytest

from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.app import create_app
from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.service import IngestService

from .conftest import EVENTS_SCHEMA, TS_FMT

PART = "2024010100"
MISSING = "2030010100"


@pytest.fixture(scope="module")
def client(spark, hive_csv_root, tmp_path_factory):
    service = IngestService(spark, str(tmp_path_factory.mktemp("warehouse")))
    service.create_landing_table("landing", "events", EVENTS_SCHEMA)
    app = create_app(service)
    app.config["TESTING"] = True
    return app.test_client()


def _body(hive_csv_root):
    return {
        "bucket_name": hive_csv_root,
        "dataset_id": "landing",
        "table_id": "events",
        "job_configuration": {"timestampFormat": TS_FMT},
    }


def test_health(client):
    assert client.get("/").status_code == 200


def test_partition_exists_route(client, hive_csv_root):
    r = client.get(f"/partition/{PART}/exists/in-bucket?bucket_name={hive_csv_root}")
    assert r.status_code == 200 and r.get_json() == 1
    r = client.get(f"/partition/{MISSING}/exists/in-bucket?bucket_name={hive_csv_root}")
    assert r.status_code == 200 and r.get_json() == 0


def test_invalid_partition_is_422(client, hive_csv_root):
    r = client.get(f"/partition/2024010199/exists/in-bucket?bucket_name={hive_csv_root}")
    assert r.status_code == 422


def test_ingest_then_poll_to_success(client, hive_csv_root):
    r = client.put(f"/partition/{PART}/ingest", json=_body(hive_csv_root))
    assert r.status_code == 201
    job = r.get_json()
    assert job["status"]["name"] in ("RUNNING", "SUCCESS")
    # the workflow's 30s poll loop (workflow.yaml:73-84), compressed
    deadline = time.time() + 120
    while time.time() < deadline:
        status = client.get(f"/load_job/{job['job_id']}/status").get_json()["status"]
        if status["code"] != 1:  # not RUNNING
            break
        time.sleep(0.2)
    assert status == {"name": "SUCCESS", "code": 2, "error_msg": None}


def test_ingest_missing_partition_not_created(client, hive_csv_root):
    r = client.put(f"/partition/{MISSING}/ingest", json=_body(hive_csv_root))
    assert r.status_code == 201
    assert r.get_json()["status"] == {"name": "NOT_CREATED", "code": 0, "error_msg": None}


def test_ingest_unregistered_table_is_409(client, hive_csv_root):
    body = dict(_body(hive_csv_root), table_id="nope")
    assert client.put(f"/partition/{PART}/ingest", json=body).status_code == 409


def test_unknown_job_is_404(client):
    assert client.get("/load_job/no-such-job/status").status_code == 404


def test_bad_body_is_422(client):
    assert client.put(f"/partition/{PART}/ingest", json={"bucket_name": "x"}).status_code == 422


def test_file_uri_warehouse_ingests_and_reads_back(spark, hive_csv_root, tmp_path):
    """A ``file://`` warehouse root: the table and its schema file are
    made through the Hadoop FileSystem, an ingest lands SUCCESS and the
    hour reads back with every source row."""
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.api.models import NewLoadJob
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.operators.sink import read_landing_table
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark.sources.hive_csv import read_hive_partition

    service = IngestService(spark, "file://" + str(tmp_path))
    root = service.create_landing_table("landing", "events", EVENTS_SCHEMA)
    assert service.create_landing_table("landing", "events", EVENTS_SCHEMA) == root
    job = service.ingest_partition(PART, NewLoadJob(**_body(hive_csv_root)))
    deadline = time.time() + 120
    while job.status.name == "RUNNING" and time.time() < deadline:
        time.sleep(0.2)
        job = service.job_status(job.job_id)
    assert job.status.name == "SUCCESS", job.status
    want = read_hive_partition(spark, hive_csv_root, PART, schema=EVENTS_SCHEMA).count()
    assert read_landing_table(spark, root, PART).count() == want > 0
