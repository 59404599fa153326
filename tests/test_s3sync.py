"""S3 sync helpers through the kv layer, against a recording injected
client (no credentials)."""

import pytest

from aind_exaspim_data_transformation_spark.sources.s3sync import (
    copy_file_to_s3,
    sync_dir_to_s3,
)
from aind_exaspim_data_transformation_spark.zarrio import kvstore


class FakeClient:
    def __init__(self):
        self.puts = []

    def put_object(self, Bucket, Key, Body, **_):
        self.puts.append((Bucket, Key, Body))
        return {}


@pytest.fixture
def client():
    fake = FakeClient()
    kvstore.set_s3_client(fake)
    yield fake
    kvstore.set_s3_client(None)


def test_rejects_non_s3_url(tmp_path):
    f = tmp_path / "a.json"
    f.write_text("{}")
    with pytest.raises(ValueError):
        sync_dir_to_s3(str(tmp_path), "http://bkt/a")
    with pytest.raises(ValueError):
        copy_file_to_s3(str(f), str(tmp_path / "copy.json"))


def test_sync_dir(tmp_path, client):
    (tmp_path / "sub").mkdir()
    (tmp_path / "a.json").write_text("{}")
    (tmp_path / "sub" / "b.bin").write_bytes(b"x")
    n = sync_dir_to_s3(str(tmp_path), "s3://bkt/derivatives")
    assert n == 2
    got = sorted((b, k, body) for b, k, body in client.puts)
    assert got == [
        ("bkt", "derivatives/a.json", b"{}"),
        ("bkt", "derivatives/sub/b.bin", b"x"),
    ]


def test_copy_file(tmp_path, client):
    f = tmp_path / "acquisition.json"
    f.write_text("{}")
    url = copy_file_to_s3(str(f), "s3://bkt/meta/acquisition.json")
    assert url == "s3://bkt/meta/acquisition.json"
    assert client.puts == [("bkt", "meta/acquisition.json", b"{}")]
