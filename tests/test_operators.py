"""Operator unit tests on tiny literal DataFrames (reference style:
exact expected values per sample, cf. nginx.rs:294-486)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rotel_spark.operators.attributes import apply_actions
from rotel_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from rotel_spark.operators.filters import mod_sample
from rotel_spark.operators.redaction import redact
from rotel_spark.operators.resource import upsert_resource_attributes
from rotel_spark.operators.similarity import brute_force_topk


def _attr_df(spark, attrs: dict[str, str]):
    df = spark.createDataFrame([(1,)], "id int")
    m = F.create_map(*[F.lit(x) for kv in attrs.items() for x in kv])
    return df.withColumn("log_attributes", m)


def attrs_of(df) -> dict:
    return df.collect()[0].log_attributes


def test_attr_insert_only_if_absent(spark):
    df = _attr_df(spark, {"a": "1"})
    out = apply_actions(
        df,
        [
            {"action": "insert", "key": "a", "value": "X"},
            {"action": "insert", "key": "b", "value": "2"},
        ],
    )
    assert attrs_of(out) == {"a": "1", "b": "2"}


def test_attr_update_only_if_present(spark):
    df = _attr_df(spark, {"a": "1"})
    out = apply_actions(
        df,
        [
            {"action": "update", "key": "a", "value": "9"},
            {"action": "update", "key": "missing", "value": "9"},
        ],
    )
    assert attrs_of(out) == {"a": "9"}


def test_attr_delete_regex_and_exact(spark):
    df = _attr_df(spark, {"tmp_a": "1", "tmp_b": "2", "keep": "3", "x": "4"})
    out = apply_actions(
        df,
        [{"action": "delete", "pattern": "^tmp_", "key": "x"}],
    )
    assert attrs_of(out) == {"keep": "3"}


def test_attr_hash_sha256(spark):
    import hashlib

    df = _attr_df(spark, {"ip": "1.2.3.4"})
    out = apply_actions(df, [{"action": "hash", "key": "ip"}])
    assert attrs_of(out)["ip"] == hashlib.sha256(b"1.2.3.4").hexdigest()


def test_attr_extract_named_groups(spark):
    df = _attr_df(spark, {"req": "GET /x HTTP/1.1"})
    out = apply_actions(
        df,
        [
            {
                "action": "extract",
                "key": "req",
                "pattern": r"^(?P<verb>\S+) (?P<target>\S+)",
            }
        ],
    )
    a = attrs_of(out)
    assert a["verb"] == "GET" and a["target"] == "/x"


def test_attr_convert(spark):
    df = _attr_df(spark, {"n": "42.7", "s": "abc"})
    out = apply_actions(
        df,
        [
            {"action": "convert", "key": "n", "to_type": "double"},
            {"action": "convert", "key": "s", "to_type": "int"},
        ],
    )
    a = attrs_of(out)
    assert a["n"] == "42.7"
    assert a["s"] == "abc"  # failed cast leaves value untouched


def test_redaction_mask_and_hash(spark):
    df = _attr_df(spark, {"ip": "10.0.0.1", "name": "ok"})
    out = redact(df, blocked_value_patterns=[r"^\d+\.\d+\.\d+\.\d+$"])
    a = attrs_of(out)
    assert a["ip"] == "[REDACTED]" and a["name"] == "ok"
    assert out.collect()[0].redacted_count == 1

    out2 = redact(
        df,
        blocked_key_patterns=["^ip$"],
        hash_function="sha256",
    )
    import hashlib

    assert attrs_of(out2)["ip"] == hashlib.sha256(b"10.0.0.1").hexdigest()


def test_redaction_ignored_keys_override_blocking(spark):
    """redaction_processor.py:24-26 — ignored keys are never masked."""
    df = _attr_df(spark, {"ip": "10.0.0.1", "trusted_ip": "10.0.0.2"})
    out = redact(
        df,
        blocked_value_patterns=[r"^\d+\.\d+"],
        ignored_keys=["trusted_ip"],
    )
    a = attrs_of(out)
    assert a["ip"] == "[REDACTED]" and a["trusted_ip"] == "10.0.0.2"


def test_redaction_allow_all_keys_false_deletes(spark):
    """redaction_processor.py:176-196 phase 1: with allow_all_keys
    False only allowed/ignored keys survive."""
    df = _attr_df(spark, {"ip": "10.0.0.1", "junk": "x", "keep": "y"})
    out = redact(
        df,
        allow_all_keys=False,
        allowed_keys=["ip"],
        ignored_keys=["keep"],
        summary=False,
    )
    a = attrs_of(out)
    assert set(a) == {"ip", "keep"}
    assert out.collect()[0].redacted_count == 1  # 'junk' deleted


def test_redaction_allowed_values_override(spark):
    """blocked_values masked unless an allowed_values pattern also
    matches (:229-252)."""
    df = _attr_df(
        spark, {"a": "mail@other.com", "b": "mail@mycompany.com"}
    )
    out = redact(
        df,
        blocked_value_patterns=[r".*@.*"],
        allowed_value_patterns=[r".*@mycompany\.com$"],
    )
    a = attrs_of(out)
    assert a["a"] == "[REDACTED]" and a["b"] == "mail@mycompany.com"


def test_redaction_summary_levels(spark):
    df = _attr_df(spark, {"password_x": "s3cret", "ok": "fine"})
    silent = attrs_of(redact(df, blocked_key_patterns=["password"],
                             summary=False))
    assert set(silent) == {"password_x", "ok"}
    info = attrs_of(redact(df, blocked_key_patterns=["password"],
                           summary="info"))
    assert info["redaction.log.masked_keys.count"] == "1"
    assert "redaction.log.masked_keys.names" not in info
    debug = attrs_of(redact(df, blocked_key_patterns=["password"],
                            summary="debug"))
    assert debug["redaction.log.masked_keys.names"] == "password_x"


def test_redaction_log_body(spark):
    """Body redaction (:309-390): blocked/allowed value patterns apply
    to the body string."""
    df = _attr_df(spark, {"k": "v"}).withColumn(
        "body", F.lit("SSN 123-45-6789 inline")
    )
    out = redact(
        df,
        blocked_value_patterns=[r"\d{3}-\d{2}-\d{4}"],
        body_col="body",
    )
    assert out.collect()[0].body == "[REDACTED]"


def test_resource_upsert_overwrites_and_appends(spark):
    """generic_pipeline.rs:350-453 semantics."""
    df = spark.createDataFrame([(1,)], "id int").withColumn(
        "resource_attributes",
        F.create_map(F.lit("service.name"), F.lit("old"), F.lit("k"), F.lit("v")),
    )
    out = upsert_resource_attributes(
        df, {"service.name": "new", "extra": "1"}
    )
    a = out.collect()[0].resource_attributes
    assert a == {"service.name": "new", "k": "v", "extra": "1"}


def test_resource_upsert_creates_missing_column(spark):
    df = spark.createDataFrame([(1,)], "id int")
    out = upsert_resource_attributes(df, {"a": "b"})
    assert out.collect()[0].resource_attributes == {"a": "b"}


def test_mod_and_hash_sample_deterministic(spark):
    df = spark.range(1000)
    n1 = mod_sample(df, "id", 1, 10).count()
    assert n1 == 100


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(0, "aa"), (1, "bb"), (2, "aa"), (3, "cc"), (4, "bb")],
        "doc_id long, text string",
    )
    kept = exact_dedup(df)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 1, 3]


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy", "sleepy")
    other = "completely different words entirely unrelated content here " * 5
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, other)], "doc_id long, text string"
    )
    # J(base, near) ≈ 0.57 on distinct 3-shingles: 2-row bands give
    # band-match prob 0.57² → miss prob (1-0.32)^16 ≈ 0.002; 4-row
    # bands would be a coin flip at this similarity level
    pairs = minhash_lsh_pairs(
        df, jaccard_threshold=0.3, num_hashes=32, bands=16
    ).collect()
    keys = {(p.id_a, p.id_b) for p in pairs}
    assert (0, 1) in keys
    assert (0, 2) not in keys and (1, 2) not in keys


def test_ngram_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "z y x w v")],
        "doc_id long, text string",
    )
    pairs = ngram_jaccard_pairs(df, threshold=0.9).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (0, 1) and p.jaccard == 1.0


def test_simhash_close_for_similar_docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    near = base.replace("dog", "cat")
    df = spark.createDataFrame(
        [(0, base), (1, near)], "doc_id long, text string"
    )
    rows = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    ham = bin((rows[0] ^ rows[1]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 16  # similar docs → small hamming distance
    # determinism across invocations
    rows2 = {r.doc_id: r.simhash for r in simhash64(df).collect()}
    assert rows == rows2


def test_brute_force_topk_exact(spark):
    data = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (10, [1.0, 0.1]),
        (11, [0.1, 1.0]),
        (12, [-1.0, 0.0]),
    ]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 10)
    c = df.filter(F.col("vec_id") >= 10)
    out = brute_force_topk(c, q, k=1).collect()
    best = {r.query_id: r.neighbor_id for r in out}
    assert best == {0: 10, 1: 11}


def test_multimodal_feature_plumbing(spark):
    from rotel_spark.operators.multimodal import (
        extract_features,
        synthetic_media,
    )

    media = synthetic_media(spark, 30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 8 for r in feats)
    assert all(r.n_bytes > 0 for r in feats)
    # determinism
    feats2 = extract_features(media).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))


def test_decode_stub_raises():
    from rotel_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8")


def test_redaction_rerun_over_redacted_data_not_fatal(spark):
    """ADVICE r2: input already carrying redaction.<ctx>.* summary keys
    (a re-run over redacted data) must not throw under
    mapKeyDedupPolicy=EXCEPTION — stale summary keys are replaced."""
    df = _attr_df(
        spark,
        {
            "ip": "10.0.0.1",
            "redaction.log.masked_keys.count": "9",  # stale from prior run
        },
    )
    out = redact(df, blocked_value_patterns=[r"^\d+\.\d+\.\d+\.\d+$"])
    a = attrs_of(out)
    assert a["ip"] == "[REDACTED]"
    assert a["redaction.log.masked_keys.count"] == "1"  # replaced, not dup


def test_connected_components_min_label(spark):
    """CC via min-label propagation: chain 1-2-3, pair 10-11,
    singleton edges absent; cluster = min member id."""
    from rotel_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (7, 8), (8, 9), (9, 7)],
        "id_a long, id_b long",
    )
    got = {
        r.node: r.cluster
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 7: 7, 8: 7, 9: 7}
