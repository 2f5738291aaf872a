"""JSONL source with quarantine (sources/jsonl.py): malformed lines and
id-less rows must land in quarantine, never as NULL-text ghost rows."""

from __future__ import annotations

import json

from database2ogr_spark.sources.jsonl import read_jsonl


def _write(tmp_path, lines):
    p = tmp_path / "corpus.jsonl"
    p.write_text("\n".join(lines) + "\n", encoding="utf-8")
    return str(p)


def test_read_jsonl_splits_good_and_quarantine(spark, tmp_path):
    ok1 = json.dumps({"doc_id": 1, "text": "hello", "lang": "en", "source": "s", "n_chars": 5})
    ok2 = json.dumps({"doc_id": 2, "text": "world", "lang": "en", "source": "s", "n_chars": 5})
    broken = '{"doc_id": 3, "text": "unterminated'
    no_id = json.dumps({"text": "orphan", "lang": "en", "source": "s", "n_chars": 6})
    path = _write(tmp_path, [ok1, broken, ok2, no_id])

    good, quarantine = read_jsonl(spark, path)
    assert {r.doc_id for r in good.collect()} == {1, 2}
    assert "_corrupt_record" not in good.columns
    raws = [r.raw for r in quarantine.collect()]
    assert len(raws) == 2
    assert any("unterminated" in r for r in raws)


def test_read_jsonl_all_good_roundtrip(spark, tmp_path):
    rows = [
        json.dumps({"doc_id": i, "text": f"doc {i}", "lang": "en", "source": "s", "n_chars": 5})
        for i in range(10)
    ]
    good, quarantine = read_jsonl(spark, _write(tmp_path, rows))
    assert good.count() == 10
    assert quarantine.count() == 0


# ---------------------------------------------------------------------------
# CSV sibling (sources/csvfile.py)


def test_csv_quarantine_splits_good_and_bad(spark, tmp_path):
    from database2ogr_spark.sources.csvfile import read_csv_quarantine

    p = tmp_path / "in"
    p.mkdir()
    (p / "a.csv").write_text(
        '1,"quoted, text",en,web,12\n'
        "not_a_number,x,y,z,1\n"
        ",missing_id,en,web,3\n"
        "2,plain,fr,book,5\n"
    )
    good, quar = read_csv_quarantine(spark, str(p))
    g = {r.doc_id: r for r in good.collect()}
    assert set(g) == {1, 2}
    assert g[1].text == "quoted, text"  # embedded delimiter survives quoting
    q = {r.raw for r in quar.collect()}
    assert q == {"not_a_number,x,y,z,1", ",missing_id,en,web,3"}


def test_csv_quarantine_survives_count_pruning(spark, tmp_path):
    """The documented _corrupt_record pruning trap must not reappear: a
    count() over the good side (which prunes data columns) must agree with
    the collected row count."""
    from database2ogr_spark.sources.csvfile import read_csv_quarantine

    p = tmp_path / "in2"
    p.mkdir()
    (p / "a.csv").write_text("1,t,en,web,1\nbroken line\n2,u,fr,book,1\n")
    good, quar = read_csv_quarantine(spark, str(p))
    assert good.count() == len(good.collect()) == 2
    assert quar.count() == 1


def test_csv_embedded_newline_quarantined_not_corrupted(spark, tmp_path):
    """The records-are-lines contract under a Spark-WRITTEN file
    (round-11 ``check_oracle.py --perturb skew`` catch, the basis of csv_roundtrip's
    structured-columns-only exchange): writing a text field with an
    embedded newline produces a QUOTED MULTI-LINE field, and the
    line-based reader must route every fragment of it to quarantine —
    never emit a half-parsed good row — while clean rows in the same
    file parse normally. This is why free text goes over JSONL and only
    line-safe columns go over CSV."""
    from database2ogr_spark.sources.csvfile import read_csv_quarantine

    out = str(tmp_path / "written")
    spark.createDataFrame(
        [(1, "line one\nline two", "en", "web", 17), (2, "plain", "fr", "book", 5)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("overwrite").csv(out)
    good, quar = read_csv_quarantine(spark, out)
    g = {r.doc_id for r in good.collect()}
    assert g == {2}  # the multi-line row must NOT surface as good
    # both physical lines of the quoted field land in quarantine intact
    assert quar.count() == 2
    raw = "\n".join(sorted(r.raw for r in quar.collect()))
    assert "line one" in raw and "line two" in raw
