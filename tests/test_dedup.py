"""Dedup operator tests on crafted fixtures with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from frames_map_reduce_spark.operators import dedup as DD
from frames_map_reduce_spark.sources import table_num_buckets

BASE = ("the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep green forest to find some food for the long winter")


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                                 # exact dup of 1
        (3, BASE.replace("winter", "summer")),     # near dup of 1
        (4, "completely different text about spark query engines and "
            "distributed aggregation pipelines at massive scale"),
        (5, "  The   quick brown fox jumps over the lazy dog and then runs far away "
            "into the deep green forest to find some food for the long winter  "),
        # 5 normalizes (case/whitespace) to the same fingerprint as 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keys(docs):
    keys = DD.exact_dedup_keys(docs, "text", "doc_id").collect()
    by_keep = {r["keep_id"]: r["dup_count"] for r in keys}
    assert by_keep[1] == 3  # docs 1, 2, 5 share a normalized fingerprint
    assert by_keep[3] == 1 and by_keep[4] == 1


def test_exact_dedup_rows(docs):
    out = DD.exact_dedup(docs, "text", "doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3, 4]


def test_exact_dedup_keep_projection(docs):
    """``keep`` drops the payload from the min_by struct without changing
    winner selection: same winner rows as the full-column form, projected;
    derived columns computed before the dedup ride through unchanged."""
    slim = docs.withColumn("n_chars", F.length("text"))
    out = DD.exact_dedup(slim, "text", "doc_id", keep=["doc_id", "n_chars"])
    assert out.columns == ["doc_id", "n_chars"]
    got = {r["doc_id"]: r["n_chars"] for r in out.collect()}
    full = {r["doc_id"]: r["n_chars"]
            for r in DD.exact_dedup(slim, "text", "doc_id").collect()}
    assert got == full and sorted(got) == [1, 3, 4]
    # keep need not include the id column; winners are still min-id rows
    only_len = DD.exact_dedup(slim, "text", "doc_id", keep=["n_chars"])
    assert only_len.columns == ["n_chars"]
    assert sorted(r["n_chars"] for r in only_len.collect()) == sorted(
        full.values())


def test_minhash_near_dup_pairs(docs):
    pairs = DD.minhash_near_dup_pairs(docs, "text", "doc_id",
                                      threshold=0.5, num_perm=64, bands=16)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # 1-2, 1-5, 2-5 are identical (J=1); 3 is a near dup of each
    assert {(1, 2), (1, 5), (2, 5)} <= got
    assert (1, 3) in got
    assert all(p not in got for p in [(1, 4), (2, 4), (3, 4), (4, 5)])


def test_jaccard_expression(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])],
                               "x array<string>, y array<string>")
    sim = df.select(DD.jaccard(F.col("x"), F.col("y")).alias("j")).first()["j"]
    assert sim == pytest.approx(2 / 4)


def test_simhash_identical_and_near(spark):
    rows = [(1, BASE), (2, BASE), (3, BASE.replace("winter", "summer")), (4, "unrelated words entirely")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select("doc_id", DD.simhash(F.col("text")).alias("s")).collect()
    by_id = {r["doc_id"]: r["s"] for r in sh}
    assert by_id[1] == by_id[2]
    ham13 = bin(by_id[1] ^ by_id[3]).count("1")
    ham14 = bin(by_id[1] ^ by_id[4]).count("1")
    assert ham13 < ham14  # near dup closer than unrelated


def test_simhash_near_dup_pairs(docs):
    pairs = DD.simhash_near_dup_pairs(docs, "text", "doc_id",
                                      max_hamming=10, n_bands=11)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical ⇒ hamming 0


def test_simhash_banding_guarantee_enforced(docs):
    with pytest.raises(ValueError, match="n_bands"):
        DD.simhash_near_dup_pairs(docs, "text", "doc_id",
                                  max_hamming=4, n_bands=4)


def test_simhash_vectorized_matches_expression(docs):
    """The mapInPandas signature path must produce bit-identical simhashes
    to the pure-expression simhash() (same token hashes, same math)."""
    hashed = docs.select(
        F.col("doc_id"),
        F.transform(DD.wordish_tokens(F.col("text")),
                    lambda t: F.xxhash64(t)).alias("_th"))
    vec = {r["doc_id"]: r["_sim"]
           for r in DD._simhash_map_in_pandas(hashed, "doc_id", 63).collect()}
    expr = {r["doc_id"]: r["s"]
            for r in docs.select("doc_id", DD.simhash(F.col("text")).alias("s")).collect()}
    assert vec == expr


def test_simhash_oracle_whitespace_parity(spark):
    """The DuckDB simhash oracle must tokenize EXACTLY like the numpy
    path on exotic whitespace — \\x0b is in Java/Python \\s but not RE2's,
    which the explicit text.WS_CHARS class papers over (ADVICE r3)."""
    import duckdb
    rows = [
        (1, "alpha\x0bbeta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),   # \x0b == space ⇒ near 1
        (3, "alpha\x0b\f\rbeta\tgamma  delta epsilon"),
        (4, "zeta eta theta iota kappa entirely different words"),
    ]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r["id_a"], r["id_b"], r["hamming_dist"])
                 for r in DD.simhash_near_dup_pairs(
                     sdf, "text", "doc_id",
                     max_hamming=8, n_bands=9).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = sorted(tuple(r) for r in con.sql(
        DD.simhash_oracle_sql("docs", "text", "doc_id",
                              max_hamming=8)).fetchall())
    assert got == want
    assert (1, 2, 0) in got  # \x0b tokenized as whitespace on BOTH engines


def test_ngram_jaccard_pairs(docs):
    out = DD.ngram_jaccard_pairs(docs.withColumn("blk", F.lit(1)),
                                 "text", "doc_id", block_col=F.col("blk"),
                                 threshold=0.8, shingle_k=3)
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    assert {(1, 2), (1, 5), (2, 5)} <= got
    assert (1, 4) not in got


def test_minhash_bucket_cap(spark):
    # 12 identical docs with max_bucket=10 ⇒ the degenerate bucket is
    # dropped, no candidates emitted (exact-dedup's job instead)
    df = spark.createDataFrame([(i, BASE) for i in range(12)],
                               "doc_id long, text string")
    pairs = DD.minhash_lsh_candidates(df, "text", "doc_id", max_bucket=10)
    assert pairs.count() == 0


def test_fixture_parity_preconditions(documents):
    """dedup_minhash oracle parity is DATA-dependent: the driver query
    verifies at threshold 0.6 but 16x8 banding only guarantees recall for
    high-J pairs, and max_bucket silently drops oversized buckets the
    exhaustive oracle keeps.  Parity holds because the fixture's Jaccard
    distribution is bimodal and no bucket trips the cap — assert BOTH so
    a testdata change fails here, loudly, instead of as a silent parity
    break (ADVICE r1)."""
    stats = DD.minhash_bucket_stats(documents, "text", "doc_id").collect()[0]
    assert stats["n_oversized"] == 0, stats

    sh = documents.select(
        F.col("doc_id"), DD.char_shingles(F.col("text"), 5).alias("_sh"))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("_sh").alias("_sh_b"))
    gap = (a.join(b, F.col("id_a") < F.col("id_b"))
            .select(DD.jaccard(F.col("_sh_a"), F.col("_sh_b")).alias("j"))
            .filter((F.col("j") >= 0.4) & (F.col("j") < 0.9)))
    assert gap.count() == 0, "fixture Jaccard gap [0.4, 0.9) is no longer empty"


def test_duplicated_spans_known_answer(spark):
    """Span-level dedup on a crafted corpus: the shared 8-token prefix
    merges into ONE maximal span per doc (not per gram), within-doc
    repetition is caught too, and a unique doc emits nothing.  Spark and
    the DuckDB twin agree exactly."""
    import duckdb
    shared = "one two three four five six seven eight"
    rows = [
        (1, shared + " unique tail of the first document here"),
        (2, "prefix words " + shared + " and a different ending"),
        (3, "no repeats in this entirely distinct document text at all"),
        (4, "x " + shared + " middle filler " + shared + " y"),  # twice
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in
                 DD.duplicated_spans(df, "text", "doc_id", k=8).collect())
    assert all(r[0] != 3 for r in got)
    # doc 1: tokens 1-8; doc 2: tokens 3-10
    assert (1, 1, 8, 8, 1) in got and (2, 3, 10, 8, 1) in got
    assert sum(1 for r in got if r[0] == 4) == 2  # two separate islands
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    want = sorted(tuple(r) for r in con.sql(
        DD.duplicated_spans_sql("docs", "text", "doc_id", k=8)).fetchall())
    assert got == want


def test_minhash_index_build_probe(spark, docs, tmp_path):
    """Persisted near-dup firewall: reference = docs {1, 4}; incoming
    batch = {2 (exact copy of 1), 3 (near dup of 1), 5 (normalizes to
    1's text), 6 (unrelated)} — matches mirror the batch pair operator,
    singleton reference buckets stay probe-able, unrelated docs pass."""
    table = "minhash_index_test"
    try:
        ref = docs.filter(F.col("doc_id").isin(1, 4))
        incoming = docs.filter(~F.col("doc_id").isin(1, 4)).union(
            spark.createDataFrame(
                [(6, "totally unrelated short poem about the quiet sea")],
                "doc_id long, text string"))
        DD.build_minhash_index(ref, table, "text", "doc_id")
        out = {(r["doc_id"], r["ref_id"]): r["jaccard_sim"]
               for r in DD.minhash_probe_index(
                   spark, table, incoming, "text", "doc_id",
                   threshold=0.6).collect()}
        assert out[(2, 1)] == 1.0          # exact copy
        assert out[(5, 1)] == 1.0          # normalization twin
        assert (3, 1) in out and out[(3, 1)] >= 0.6   # near dup
        assert not any(q == 6 for (q, _) in out)      # unrelated passes
        assert not any(r == 4 for (_, r) in out)      # no false refs

        # plan: the probed bucket scan is exchange-free on the corpus
        # side with the probe-set IN filter pushed down
        import re

        from frames_map_reduce_spark.plans import (
            count_exchanges,
            explain_formatted,
        )
        qsig = DD._shingle_sig_frame(incoming, "text", "doc_id", 5, 128, 42)
        qb = DD._minhash_banded(qsig, "doc_id", 128, 16)
        probed = [r["_bucket"] for r in qb.select("_bucket").distinct().collect()]
        cb = (spark.table(f"{table}_buckets")
                   .filter(F.col("_bucket").isin(probed))
                   .join(F.broadcast(qb.select("_bucket", "doc_id")), "_bucket"))
        assert count_exchanges(cb) == 0
        assert "In(_bucket" in explain_formatted(cb)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}_buckets")
        spark.sql(f"DROP TABLE IF EXISTS {table}_shingles")


def test_minhash_probe_bounded_batch_contract(spark, docs, tmp_path):
    """An over-sized incoming batch must fail loudly, pointing at the
    corpus-scale pair path — the same bounded-contract style as the ANN
    driver-collect cap."""
    table = "minhash_index_cap_test"
    try:
        DD.build_minhash_index(docs.filter(F.col("doc_id") == 1),
                               table, "text", "doc_id")
        with pytest.raises(ValueError, match="bounded"):
            DD.minhash_probe_index(spark, table, docs, "text", "doc_id",
                                   max_probe_buckets=3)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}_buckets")
        spark.sql(f"DROP TABLE IF EXISTS {table}_shingles")


def test_simhash_banding_equals_bruteforce_across_geometries(spark):
    """Property pin for the multi-word band extraction: for several
    (bits, n_bands) geometries — including chunks that straddle the
    63-bit word boundary and a non-dividing bands count with a remainder
    chunk — the banded+verified pair set must equal brute-force Hamming
    filtering of the same signatures (pigeonhole: lossless whenever
    max_hamming < n_bands)."""
    import itertools

    import pandas as pd

    rows = [(i, t) for i, t in enumerate([
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",
        "the quick brown fox leaps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "pack my box with five dozen liquid jugs",
        "sphinx of black quartz judge my vow",
        "how vexingly quick daft zebras jump",
        "the five boxing wizards jump quickly tonight",
        "",
        "   ",
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bits, n_bands, max_h in [(126, 9, 8), (126, 5, 4), (126, 11, 10),
                                 (63, 9, 8), (189, 7, 6)]:
        sh = {r["doc_id"]: r["_sim"] for r in
              DD._simhash_from_text_frame(df, "text", "doc_id", bits).collect()}
        brute = set()
        for a, b in itertools.combinations(sorted(sh), 2):
            d = sum(bin((x ^ y) & ((1 << 63) - 1)).count("1")
                    for x, y in zip(sh[a], sh[b]))
            if d <= max_h:
                brute.add((a, b, d))
        got = {(r["id_a"], r["id_b"], r["hamming_dist"]) for r in
               DD.simhash_near_dup_pairs(df, "text", "doc_id",
                                         max_hamming=max_h, bits=bits,
                                         n_bands=n_bands).collect()}
        assert got == brute, f"geometry bits={bits} bands={n_bands}"


def test_simhash_chunks_partition_the_bit_space(spark):
    """Reconstruction property: the per-band chunk values, shifted back
    to their global offsets, must XOR-reassemble the signature exactly —
    i.e. chunks partition [0, bits) with no gap, overlap, or
    straddle-extraction error."""
    rows = [(1, "a modest amount of text for signature material")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bits, n_bands in [(126, 9), (126, 4), (63, 4), (189, 8)]:
        out = (DD._simhash_from_text_frame(df, "text", "doc_id", bits)
                 .select("_sim", DD._simhash_chunks(bits, n_bands).alias("_ch"))
                 .first())
        words = out["_sim"]
        chunk = bits // n_bands
        rebuilt = [0] * len(words)
        for entry in out["_ch"]:
            band, val = entry.split(":")
            band, val = int(band), int(val)
            start = band * chunk
            width = (bits - start) if band == n_bands - 1 else chunk
            for j in range(width):
                g = start + j
                if (val >> j) & 1:
                    rebuilt[g // 63] |= 1 << (g % 63)
        assert rebuilt == list(words), (bits, n_bands, rebuilt, words)


def test_remove_duplicated_spans_apply(spark):
    """The apply half: a license-header span shared by two docs is cut
    from both, unique text survives, sub-k docs and span-free docs pass
    through untouched (whitespace-normalized)."""
    header = "licensed under the apache license version two point zero see notice file"
    rows = [
        (1, header + " alpha beta gamma delta epsilon zeta eta theta"),
        (2, header + " one two three four five six seven eight nine ten"),
        (3, "entirely unique prose with no repeated material anywhere here today"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           DD.remove_duplicated_spans(df, "text", "doc_id").collect()}
    assert out[1]["n_spans_removed"] == 1 and out[2]["n_spans_removed"] == 1
    assert out[1]["n_tokens_removed"] == out[2]["n_tokens_removed"] == 12
    assert out[1]["clean_text"] == "alpha beta gamma delta epsilon zeta eta theta"
    assert out[2]["clean_text"].startswith("one two three")
    assert out[3]["n_tokens_removed"] == 0
    assert out[3]["clean_text"] == rows[2][1]
    assert out[4]["clean_text"] == "tiny doc"      # sub-k: untouched
    assert out[4]["n_tokens_removed"] == 0


def test_simhash_band_wider_than_bigint_raises(spark):
    """A chunk wider than 63 bits cannot be extracted into a bigint —
    geometry must fail loudly, not overflow silently."""
    df = spark.createDataFrame([(1, "text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="> 63"):
        DD.simhash_near_dup_pairs(df, "text", "doc_id",
                                  bits=189, n_bands=2, max_hamming=1)


def test_minhash_index_extend_lifecycle(spark, docs):
    """Firewall lifecycle: build on part of the corpus, extend with the
    accepted remainder, and the probe must behave exactly as an index
    built on the union — incl. matching docs added only via extend."""
    table = "minhash_index_ext_test"
    table2 = "minhash_index_union_test"
    try:
        part1 = docs.filter(F.col("doc_id") == 4)
        part2 = docs.filter(F.col("doc_id") == 1)
        DD.build_minhash_index(part1, table, "text", "doc_id")
        DD.extend_minhash_index(part2, table, "text", "doc_id")
        probe = docs.filter(F.col("doc_id").isin(2, 3))
        got = sorted((r["doc_id"], r["ref_id"], r["jaccard_sim"]) for r in
                     DD.minhash_probe_index(spark, table, probe, "text",
                                            "doc_id", threshold=0.6).collect())
        DD.build_minhash_index(part1.union(part2), table2, "text", "doc_id")
        want = sorted((r["doc_id"], r["ref_id"], r["jaccard_sim"]) for r in
                      DD.minhash_probe_index(spark, table2, probe, "text",
                                             "doc_id", threshold=0.6).collect())
        assert got == want
        assert any(ref == 1 for (_, ref, _) in got)   # extend-added doc found
    finally:
        for t in (table, table2):
            spark.sql(f"DROP TABLE IF EXISTS {t}_buckets")
            spark.sql(f"DROP TABLE IF EXISTS {t}_shingles")


def test_remove_duplicated_lines(spark):
    """C4-style line removal: the shared footer line vanishes from every
    doc, unique lines and blank-line structure survive, a doc that was
    all boilerplate comes back empty."""
    footer = "subscribe to our newsletter today"
    rows = [
        (1, "unique first line\n" + footer + "\n\nunique last line"),
        (2, "another doc body\n" + footer),
        (3, footer),
        (4, "no boilerplate here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           DD.remove_duplicated_lines(df, "text", "doc_id").collect()}
    assert out[1]["clean_text"] == "unique first line\n\nunique last line"
    assert out[1]["n_lines"] == 4 and out[1]["n_lines_removed"] == 1
    assert out[2]["clean_text"] == "another doc body"
    assert out[3]["clean_text"] == "" and out[3]["n_lines_removed"] == 1
    assert out[4]["clean_text"] == rows[3][1]
    assert out[4]["n_lines_removed"] == 0


def test_remove_duplicated_lines_matches_duckdb(spark):
    import duckdb

    rows = [(i, t) for i, t in enumerate([
        "alpha\nshared line\nbeta",
        "gamma\nshared line",
        "  shared line  \ndelta",          # trims to the same key
        "\n\n",                            # blank lines only
        "solo",
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple,
                     DD.remove_duplicated_lines(df, "text", "doc_id").collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = sorted(map(tuple,
                      con.sql(DD.remove_duplicated_lines_sql("t", "text",
                                                             "doc_id"))
                         .fetchall()))
    assert got == want


def test_minhash_index_rebuild_lifecycle(spark):
    """Cap drift under an extend-heavy lifecycle (r5 verdict #5): the
    build-time max_bucket cap is never re-evaluated by extend, so a
    degenerate near-dup class appended over time inflates its band
    buckets unboundedly.  Pin the remediation loop end-to-end:
    monitoring from the INDEX (no corpus re-signing) catches the drift,
    rebuild_minhash_index compacts it atomically, the bucket spec
    survives the catalog swap, the shingle table is untouched, and
    probes keep matching healthy references while the degenerate class
    is (visibly) routed to exact dedup's jurisdiction."""
    table = "minhash_index_rebuild_test"
    boiler = ("subscribe to our newsletter terms of service privacy "
              "policy all rights reserved contact us about careers")
    healthy = ("a long and quite specific technical document about "
               "distributed query engines and shuffle partitioning")
    try:
        base = spark.createDataFrame(
            [(0, healthy), (1, boiler)], "doc_id long, text string")
        DD.build_minhash_index(base, table, "text", "doc_id")
        nb_before = table_num_buckets(spark, f"{table}_buckets")
        # three append waves of the SAME degenerate text (distinct ids):
        # every wave lands in the identical band buckets
        for wave in range(3):
            delta = spark.range(10 + wave * 20, 10 + wave * 20 + 20).select(
                F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
            DD.extend_minhash_index(delta, table, "text", "doc_id")
        sh_count = spark.table(f"{table}_shingles").count()

        cap = 10
        drifted = DD.minhash_index_bucket_stats(spark, table, cap).first()
        assert drifted["n_oversized"] > 0
        assert drifted["max_size"] == 61  # 1 build + 60 appended copies

        DD.rebuild_minhash_index(spark, table, max_bucket=cap)
        after = DD.minhash_index_bucket_stats(spark, table, cap).first()
        assert after["n_oversized"] == 0
        assert after["max_size"] <= cap
        assert table_num_buckets(spark, f"{table}_buckets") == nb_before
        assert spark.table(f"{table}_shingles").count() == sh_count

        probe = spark.createDataFrame(
            [(1000, boiler + " extra trailing words here"),
             (1001, healthy + " with a small suffix appended")],
            "doc_id long, text string")
        got = {(r["doc_id"], r["ref_id"])
               for r in DD.minhash_probe_index(
                   spark, table, probe, "text", "doc_id",
                   threshold=0.5).collect()}
        assert (1001, 0) in got                       # healthy still matches
        assert not any(q == 1000 for q, _ in got)     # capped class dropped
    finally:
        for suffix in ("_buckets", "_shingles", "_buckets_rebuild",
                       "_buckets_old"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_ngram_jaccard_block_scoped_ids(spark):
    """ids need only be unique WITHIN a block: the same id in two blocks
    is two different documents, and the ordering window / candidate /
    verify joins must never conflate them (a global-id assumption would
    merge their shingle sets and cross-match the verify)."""
    rows = [("bx", 1, "alpha beta gamma delta epsilon zeta"),
            ("bx", 2, "alpha beta gamma delta epsilon zeta"),   # dup of bx/1
            ("by", 1, "omega psi chi phi upsilon tau"),
            ("by", 2, "totally different words entirely here now")]
    df = spark.createDataFrame(rows, "blk string, doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): round(r["jaccard_sim"], 6)
           for r in DD.ngram_jaccard_pairs(
               df, "text", "doc_id", block_col=F.col("blk"),
               threshold=0.9, shingle_k=3).collect()}
    # exactly the bx-block identical pair; the by-block id 1/2 docs are
    # unrelated and the cross-block id collisions must not leak pairs
    assert out == {(1, 2): 1.0}


def test_ngram_jaccard_null_text_pairs_nothing(spark):
    rows = [(1, None), (2, None), (3, "hello world hello world"),
            (4, "hello world hello world")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"])
           for r in DD.ngram_jaccard_pairs(
               df, "text", "doc_id", block_col=F.lit(1),
               threshold=0.5, shingle_k=3).collect()}
    assert got == {(3, 4)}


def test_minhash_index_rebuild_crash_window_recovery(spark, monkeypatch):
    """r6 verdict #5: simulate a failure in the rename-rename-drop swap
    and prove the documented recovery contract — a crash between the two
    renames leaves BOTH datasets alive under `_old` / `_rebuild` (one
    manual rename restores a working index), and a leftover `_old` from
    a crash after the second rename is cleaned by the next rebuild."""
    table = "minhash_rebuild_crash_test"
    boiler = ("click here to accept cookies and subscribe to the feed "
              "terms conditions apply all rights reserved")
    healthy = ("an original research note on columnar execution and "
               "late materialization strategies in vectorized engines")
    real_sql = spark.sql
    try:
        base = spark.createDataFrame(
            [(0, healthy), (1, boiler)], "doc_id long, text string")
        DD.build_minhash_index(base, table, "text", "doc_id")
        for wave in range(2):
            delta = spark.range(10 + wave * 20, 30 + wave * 20).select(
                F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
            DD.extend_minhash_index(delta, table, "text", "doc_id")
        rows_before = spark.table(f"{table}_buckets").count()

        # -- crash BETWEEN the two renames ------------------------------
        def crash_on_second_rename(q, *a, **k):
            if f"`{table}_buckets_rebuild` RENAME" in q:
                raise RuntimeError("injected crash between renames")
            return real_sql(q, *a, **k)

        monkeypatch.setattr(spark, "sql", crash_on_second_rename)
        with pytest.raises(RuntimeError, match="injected"):
            DD.rebuild_minhash_index(spark, table, max_bucket=10)
        monkeypatch.setattr(spark, "sql", real_sql)
        tables = {r["tableName"] for r in real_sql("SHOW TABLES").collect()}
        assert f"{table}_buckets" not in tables          # the crash window
        assert f"{table}_buckets_old" in tables          # … but no data lost
        assert f"{table}_buckets_rebuild" in tables
        assert spark.table(f"{table}_buckets_old").count() == rows_before

        # -- documented recovery: ONE rename restores a working index ---
        real_sql(f"ALTER TABLE `{table}_buckets_rebuild` "
                 f"RENAME TO `{table}_buckets`")
        probe = spark.createDataFrame(
            [(1001, healthy + " with a short suffix")],
            "doc_id long, text string")
        got = {(r["doc_id"], r["ref_id"]) for r in DD.minhash_probe_index(
            spark, table, probe, "text", "doc_id", threshold=0.5).collect()}
        assert (1001, 0) in got
        stats = DD.minhash_index_bucket_stats(spark, table, 10).first()
        assert stats["n_oversized"] == 0                 # rebuild took effect

        # -- leftover `_old` is cleaned by the next rebuild -------------
        assert f"{table}_buckets_old" in tables
        DD.rebuild_minhash_index(spark, table, max_bucket=10)
        tables = {r["tableName"] for r in real_sql("SHOW TABLES").collect()}
        assert f"{table}_buckets" in tables
        assert f"{table}_buckets_old" not in tables
        assert f"{table}_buckets_rebuild" not in tables

        # -- crash AFTER the second rename (before DROP _old): index is
        # already healthy; the orphan `_old` must not break the next run
        def crash_on_drop(q, *a, **k):
            if q.strip() == f"DROP TABLE `{table}_buckets_old`":
                raise RuntimeError("injected crash before drop")
            return real_sql(q, *a, **k)

        monkeypatch.setattr(spark, "sql", crash_on_drop)
        with pytest.raises(RuntimeError, match="injected"):
            DD.rebuild_minhash_index(spark, table, max_bucket=10)
        monkeypatch.setattr(spark, "sql", real_sql)
        assert spark.table(f"{table}_buckets").count() > 0   # index intact
        DD.rebuild_minhash_index(spark, table, max_bucket=10)  # self-heals
        tables = {r["tableName"] for r in real_sql("SHOW TABLES").collect()}
        assert f"{table}_buckets_old" not in tables
    finally:
        monkeypatch.setattr(spark, "sql", real_sql)
        for suffix in ("_buckets", "_shingles", "_buckets_rebuild",
                       "_buckets_old"):
            real_sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def test_index_writes_carry_the_callers_job_group(spark):
    """build_minhash_index / extend_minhash_index write their two tables
    from driver threads; every job they launch still carries the caller's
    local properties (here its job group), so it is attributed to it."""
    sc, table, group = spark.sparkContext, "minhash_index_tag_test", "fmr-tag-test"
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog"),
         (1, "a completely different sentence about spark jobs")],
        "doc_id long, text string")
    status = sc.statusTracker()
    ungrouped = set(status.getJobIdsForGroup(None))
    sc.setJobGroup(group, "tagged index writes")
    try:
        DD.build_minhash_index(docs.filter("doc_id = 0"), table, "text", "doc_id")
        DD.extend_minhash_index(docs.filter("doc_id = 1"), table, "text", "doc_id")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        for suffix in ("_buckets", "_shingles"):
            spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")
    assert status.getJobIdsForGroup(group)
    # no new job without the group (old ones may age out of the tracker)
    assert set(status.getJobIdsForGroup(None)) <= ungrouped
