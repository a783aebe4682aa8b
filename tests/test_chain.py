"""The manifest-chain protocol tables, branch heads and the catalog
share (lake.py): one create-if-absent claim, one version chain with a
``_latest`` hint, one durable batch ledger — and the on-disk names and
contents they produce, pinned so old and new code read each other's
tables."""

import hashlib
import json
import os
import threading
import time

from etl_bitcoin_spark.tableformat import LakeCatalog, LakeTable
from etl_bitcoin_spark.tableformat.lake import BUCKET_COL, LSN_COL, _claim_file


def test_claim_file_has_exactly_one_winner(tmp_path):
    """8 threads race to claim each of 20 paths: exactly one claim per
    path succeeds, the file holds the winner's payload, and no tmp file
    is left behind."""
    for i in range(20):
        path = str(tmp_path / f"v{i:08d}.json")
        gate = threading.Barrier(8)
        won: list[str] = []

        def claim(w: int) -> None:
            gate.wait()
            payload = json.dumps({"writer": w})
            if _claim_file(path, payload):
                won.append(payload)

        threads = [threading.Thread(target=claim, args=(w,)) for w in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(won) == 1
        with open(path) as f:
            assert f.read() == won[0]
    assert not [n for n in os.listdir(tmp_path) if ".tmp." in n]
    assert len(os.listdir(tmp_path)) == 20


def _rows(spark, lake, keys, lsn0):
    df = spark.createDataFrame(
        [(k, f"v{lsn0 + i}", lsn0 + i) for i, k in enumerate(keys)],
        f"k string, v string, {LSN_COL} long",
    )
    return df.withColumn(BUCKET_COL, lake.bucket_expr(4, ["k"]))


def _text(*parts) -> str:
    with open(os.path.join(*parts)) as f:
        return f.read()


def _marker(chain_dir: str, batch_id: str) -> str:
    h = hashlib.md5(batch_id.encode()).hexdigest()
    return os.path.join(chain_dir, "batches", h[:2], h)


def test_on_disk_chain_names_and_contents(spark, tmp_path):
    """The names and contents every reader of a table relies on:
    ``_latest`` names the newest ``v%08d.json``; a head chain is
    ``heads/<ref>/h{k}.json`` holding ``{"version": v}`` with ``_hint``
    holding k; a ledger marker is ``batches/<md5[:2]>/<md5>`` holding
    its creation stamp; manifests are ``json.dumps(m, indent=1)``."""
    t0 = time.time()
    lake = LakeTable.create(
        spark, str(tmp_path / "t"), "k string, v string", ["k"], 4
    )
    md = lake.manifest_dir
    assert _text(md, "_latest") == "v00000001.json"
    assert lake.commit(_rows(spark, lake, ["a", "b"], 0), [], "b1",
                       (0, 1), mode="append")
    assert _text(md, "_latest") == "v00000002.json"
    raw = _text(md, "v00000002.json")
    assert raw == json.dumps(json.loads(raw), indent=1)

    assert lake.create_branch("dev") == 2
    assert _text(md, "heads", "main", "h0.json") == '{"version": 2}'
    assert _text(md, "heads", "main", "_hint") == "0"
    assert _text(md, "heads", "dev", "h0.json") == '{"version": 2}'
    assert _text(md, "heads", "dev", "_hint") == "0"
    assert lake.commit(_rows(spark, lake, ["c"], 2), [], "b2", (2, 2),
                       mode="append", ref="dev")
    assert _text(md, "_latest") == "v00000003.json"
    assert _text(md, "heads", "dev", "h1.json") == '{"version": 3}'
    assert _text(md, "heads", "dev", "_hint") == "1"
    assert _text(md, "heads", "main", "_hint") == "0"
    assert lake.commit(_rows(spark, lake, ["d"], 3), [], "b3", (3, 3),
                       mode="append")
    assert _text(md, "_latest") == "v00000004.json"
    assert _text(md, "heads", "main", "h1.json") == '{"version": 4}'
    assert _text(md, "heads", "main", "_hint") == "1"
    assert lake.snapshot(ref="dev")["version"] == 3
    assert lake.snapshot()["version"] == 4

    cat = LakeCatalog.create(spark, str(tmp_path / "cat"))
    cd = cat.catalog_dir
    assert _text(cd, "_latest") == "v00000001.json"
    t = cat.create_table("t", "k string, v string", ["k"], 4)
    assert _text(cd, "_latest") == "v00000002.json"
    assert cat.commit_multi(
        {"t": {"new_content": _rows(spark, t, ["a"], 0),
               "replaced_buckets": [], "lsn_range": (0, 0),
               "mode": "append"}},
        "m1",
    )
    assert _text(cd, "_latest") == "v00000003.json"
    raw = _text(cd, "v00000003.json")
    assert raw == json.dumps(json.loads(raw), indent=1)
    assert json.loads(raw)["tables"] == {"t": 2}
    assert json.loads(raw)["applied_batch_ids"] == ["m1"]
    t1 = time.time()

    for chain, batch_id in ((md, "b1"), (cd, "m1"), (t.manifest_dir, "m1/t")):
        assert t0 <= float(_text(_marker(chain, batch_id))) <= t1
    for d in (md, os.path.join(md, "heads", "main"),
              os.path.join(md, "heads", "dev"), cd):
        assert not [n for n in os.listdir(d) if ".tmp." in n]
