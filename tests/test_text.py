"""Text-kernel unit tests: normalization, hashing, shingles, MinHash,
SimHash, winnowing (operators/text.py)."""

import hashlib

from pyspark.sql import functions as F

from myserver_datawarehouse_spark.operators import text as TX


def one(spark, text, expr):
    return (
        spark.createDataFrame([(text,)], "text string")
        .select(expr.alias("v"))
        .collect()[0]
        .v
    )


def test_normalize_and_content_hash(spark):
    assert one(spark, "  Hello   World ", TX.normalize_text("text")) == "hello world"
    expected = hashlib.sha256(b"hello world").hexdigest()
    assert one(spark, "  Hello   World ", TX.content_hash("text")) == expected


def test_shingles_basic_and_short_doc(spark):
    got = one(spark, "a b c d", TX.shingles(TX.tokenize("text"), 3))
    assert got == ["a b c", "b c d"]
    assert one(spark, "a b", TX.shingles(TX.tokenize("text"), 3)) == []


def test_shingles_positional_keeps_duplicates(spark):
    got = one(spark, "x y x y x y", TX.shingles(TX.tokenize("text"), 3, distinct=False))
    assert got == ["x y x", "y x y", "x y x", "y x y"]


def test_hash60_matches_md5_prefix(spark):
    expected = int(hashlib.md5(b"7|abc").hexdigest()[:15], 16)
    assert one(spark, "abc", TX.hash60("text", seed=7)) == expected
    assert 0 <= expected < (1 << 60)


def test_minhash_identical_docs_equal_signatures(spark):
    df = spark.createDataFrame([("t1", "a b c d e f"), ("t2", "a b c d e f")],
                               "id string, text string")
    sigs = df.select(
        TX.minhash_signature(TX.shingles(TX.tokenize("text"), 3), 8).alias("sig")
    ).collect()
    assert sigs[0].sig == sigs[1].sig and len(sigs[0].sig) == 8


def test_lsh_bands_near_dups_collide(spark):
    df = spark.createDataFrame(
        [("d1", "w1 w2 w3 w4 w5 w6 w7 w8"), ("d2", "w1 w2 w3 w4 w5 w6 w7 zz")],
        "id string, text string",
    )
    bands = df.select(
        F.col("id"),
        F.explode(
            TX.lsh_band_keys(
                TX.minhash_signature(TX.shingles(TX.tokenize("text"), 3), 16), 8, 2
            )
        ).alias("bk"),
    ).collect()
    k1 = {r.bk for r in bands if r.id == "d1"}
    k2 = {r.bk for r in bands if r.id == "d2"}
    assert len(k1) == 8
    assert k1 & k2  # high-overlap docs share at least one band


def test_rowwise_signature_matches_array_form(spark):
    """The near-dup substrate's row-wise signature aggregate equals the
    array-form TX.minhash_signature per doc; a doc too short for any
    k-shingle has no hash rows and drops out."""
    from myserver_datawarehouse_spark.plans import llm_text as LTX

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "the quick brown fox jumps over the quick brown fox"),
            (3, "w1 w2 w3 w4 w5 w6 w7 zz"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n, r.sig)
        for r in LTX._minhash_signatures(LTX._shingle_hashes(df)).collect()
    }
    sh = TX.shingles(TX.tokenize("text"), LTX.SHINGLE_K)
    want = {
        r.doc_id: (r.n, r.sig)
        for r in df.select(
            "doc_id",
            F.size(sh).alias("n"),
            TX.minhash_signature(sh, LTX.MINHASH_N).alias("sig"),
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    assert want[4][0] == 0
    for doc_id, (n, sig) in got.items():
        assert (n, sig) == want[doc_id]
        assert len(sig) == LTX.MINHASH_N


def test_simhash_range_and_identity(spark):
    df = spark.createDataFrame(
        [("same1", "p q r s t"), ("same2", "p q r s t"), ("diff", "z9 z8 z7 z6 z5")],
        "id string, text string",
    )
    got = {r.id: r.s for r in df.select(
        "id", TX.simhash(TX.tokenize("text")).alias("s")).collect()}
    assert got["same1"] == got["same2"]
    assert 0 <= got["same1"] < (1 << 60)
    d = df.limit(0)  # hamming on literals
    ham = one(spark, "x", TX.hamming60(F.lit(got["same1"]), F.lit(got["diff"])))
    assert ham > 0


def test_simhash_chunks_reassemble(spark):
    sim = 0b111000011110000111100001111000011110000111100001111000011110  # 60 bits
    chunks = one(spark, "x", TX.simhash_chunks(F.lit(sim).cast("long"), 4))
    w = TX.SIMHASH_BITS // 4
    assert len(chunks) == 4
    rebuilt = sum(c << (i * w) for i, c in enumerate(chunks))
    assert rebuilt == sim


def test_winnow_fingerprints_subset_and_coverage(spark):
    df = spark.createDataFrame([("t", "a b c d e f g h i j")], "id string, text string")
    grams = TX.shingles(TX.tokenize("text"), 3, distinct=False)
    hashes = F.transform(grams, lambda g: TX.hash60(g))
    row = df.select(
        hashes.alias("h"), TX.winnow_fingerprints(hashes, 4).alias("fp")
    ).collect()[0]
    assert set(row.fp) <= set(row.h)  # fingerprints come from the hash stream
    assert row.fp == sorted(row.fp)
    assert 1 <= len(row.fp) <= len(row.h)


def test_jaccard_exact(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "x array<string>, y array<string>")
    assert df.select(TX.jaccard("x", "y").alias("j")).collect()[0].j == 0.5


def test_scrub_pii_redacts_and_is_idempotent(spark):
    from myserver_datawarehouse_spark.operators.text import pii_counts, scrub_pii

    rows = [
        ("contact alice.b+x@example.co.uk or 555-867-5309 x9",),
        ("ssn 123-45-6789 ip 10.0.255.1 phone (212) 555-0199",),
        ("no pii here, just version 1.2.3.4.5 and id 123456789",),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = df.select(
        scrub_pii("text").alias("clean"), *pii_counts("text")
    ).collect()
    assert "<EMAIL>" in out[0].clean and "example" not in out[0].clean
    assert "<PHONE>" in out[0].clean
    assert "<SSN>" in out[1].clean and "123-45-6789" not in out[1].clean
    assert "<IPV4>" in out[1].clean and "<PHONE>" in out[1].clean
    assert out[0].n_email == 1 and out[0].n_phone == 1
    assert out[1].n_ssn == 1 and out[1].n_ipv4 == 1 and out[1].n_phone == 1
    # 1.2.3.4.5 is not an IPv4 (trailing .5 digit) — lookarounds hold.
    assert out[2].n_ipv4 == 0 and out[2].n_ssn == 0
    # Idempotent: scrubbing the scrubbed text is a no-op.
    again = df.select(
        scrub_pii(scrub_pii("text")).alias("c2"),
        scrub_pii("text").alias("c1"),
    ).collect()
    for r in again:
        assert r.c1 == r.c2
