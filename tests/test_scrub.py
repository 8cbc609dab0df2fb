"""PII scrub + deterministic sampling tests against brute-force
recomputation."""

import hashlib

from pdf_parser_spark.corpus import scrub as SC


def _key(v, salt=""):
    return int(hashlib.md5(f"{v}:{salt}".encode()).hexdigest()[:8], 16)


def test_pii_scrub_counts_and_tokens(spark):
    df = spark.createDataFrame(
        [(0, "mail a@b.co and c.d-e@sub.example.org here"),
         (1, "server 10.0.255.7 and 192.168.1.1 up"),
         (2, "call +12 555-0199 or 044 123-4567 now"),
         (3, "clean text with no pii at all"),
         (4, "mix x@y.io on 8.8.8.8 tel +123 456-7890 end")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in SC.pii_scrub(df).collect()}
    assert (got[0].n_emails, got[0].n_ips, got[0].n_phones) == (2, 0, 0)
    assert got[0].text == "mail <EMAIL> and <EMAIL> here"
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (0, 2, 0)
    assert got[1].text == "server <IP> and <IP> up"
    assert (got[2].n_emails, got[2].n_ips, got[2].n_phones) == (0, 0, 2)
    assert got[2].text == "call <PHONE> or <PHONE> now"
    assert (got[3].n_emails, got[3].n_ips, got[3].n_phones) == (0, 0, 0)
    assert got[3].text == "clean text with no pii at all"
    assert (got[4].n_emails, got[4].n_ips, got[4].n_phones) == (1, 1, 1)
    assert got[4].text == "mix <EMAIL> on <IP> tel <PHONE> end"


def test_pii_scrub_email_shields_domain_from_ip_pass(spark):
    """Order contract: the dotted-digit domain of an email is redacted in
    the email pass, so the IP pass never double-counts it."""
    df = spark.createDataFrame(
        [(0, "odd address user@10.0.0.1.example.net stays one email")],
        "doc_id long, text string")
    r = SC.pii_scrub(df).collect()[0]
    assert (r.n_emails, r.n_ips, r.n_phones) == (1, 0, 0)
    assert "<IP>" not in r.text


def test_deterministic_sample_matches_hash_rule(spark):
    """With no strata, `stratified_sample` is a uniform hash sample."""
    rows = [(i, f"t{i}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    frac = 0.3

    def sample(d, **kw):
        return sorted(r.doc_id for r in SC.stratified_sample(
            d, {}, default_fraction=frac, **kw).collect())

    exp = sorted(i for i, _ in rows if _key(i) < int(frac * 2 ** 32))
    assert sample(df) == exp
    # stable under repartitioning (the df.sample() failure mode)
    assert sample(df.repartition(13)) == exp
    # a different salt draws an independent sample
    got3 = sample(df, salt="x")
    assert got3 != exp
    assert abs(len(got3) - 150) < 60


def test_stratified_sample_per_stratum_rule(spark):
    rows = [(i, ["en", "de", "zz"][i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    fr = {"en": 0.8, "de": 0.2}
    thr = {"en": int(0.8 * 2 ** 32), "de": int(0.2 * 2 ** 32)}
    exp = sorted(i for i, lang in rows
                 if _key(i) < thr.get(lang, int(0.1 * 2 ** 32)))
    got = sorted(r.doc_id for r in
                 SC.stratified_sample(df, fr, default_fraction=0.1).collect())
    assert got == exp
    # strata landed: en (0.8) > de (0.2) > zz (default 0.1) > none
    kept_by = {}
    for i in got:
        kept_by.setdefault(rows[i][1], []).append(i)
    assert len(kept_by["en"]) > len(kept_by["de"]) > len(kept_by["zz"]) > 0


def test_pii_scrub_rejects_digit_run_substrings(spark):
    """A phone-shaped substring inside a longer digit run (card number)
    must not be partially redacted."""
    df = spark.createDataFrame(
        [(0, "card 4111-111-1111 stays, call +41 555-0100 goes")],
        "doc_id long, text string")
    r = SC.pii_scrub(df).collect()[0]
    assert r.n_phones == 1
    assert "4111-111-1111" in r.text and "<PHONE>" in r.text


def test_split_assign_partitions_and_is_stable(spark):
    rows = [(i, f"t{i}") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.split
           for r in SC.split_assign(df, 0.1, 0.1).collect()}
    exp = {}
    for i, _ in rows:
        k = _key(i, "split")
        exp[i] = ("val" if k < int(0.1 * 2 ** 32)
                  else "test" if k < int(0.2 * 2 ** 32) else "train")
    assert got == exp
    from collections import Counter
    c = Counter(got.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] > 0 and c["test"] > 0
    got2 = {r.doc_id: r.split
            for r in SC.split_assign(df.repartition(9), 0.1, 0.1).collect()}
    assert got2 == got


def test_split_assign_band_edge_matches_oracle_convention(spark):
    """The test band's upper edge must be int((val+test)*K) — the summed
    form the DuckDB twin and the brute-force expectation above use — not
    int(val*K) + int(test*K), which is one keyspace value lower for
    val=test=0.1 and would label the seam key 'train' engine-side only."""
    df = spark.createDataFrame([(1,)], "doc_id long")
    plan = SC.split_assign(df, 0.1, 0.1)._jdf.queryExecution() \
        .analyzed().toString()
    assert str(int(0.2 * 2 ** 32)) in plan          # 858993459
    assert str(int(0.1 * 2 ** 32) * 2) not in plan  # 858993458


def test_mixture_sample_budget_rule(spark):
    # lang a: 10 docs x 10 tokens; lang b: 5 docs x 20 tokens;
    # lang c: 2 docs x 5 tokens (absent from shares -> dropped).
    rows = ([(i, "a", "w " * 9 + "w") for i in range(10)]
            + [(100 + i, "b", "w " * 19 + "w") for i in range(5)]
            + [(200 + i, "c", "w " * 4 + "w") for i in range(2)])
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    # T = 210, B = floor(0.5*210) = 105;
    # a: target floor(0.5*105)=52, p=52/100; b: floor(0.25*105)=26, p=26/100
    out = {r.doc_id: r.n_tokens for r in SC.mixture_sample(
        df, {"a": 0.5, "b": 0.25}, budget_frac=0.5).collect()}

    def key(doc_id):
        h = hashlib.md5(f"{doc_id}:mix".encode()).hexdigest()
        return int(h[:8], 16)

    exp = {i for i, lang, _ in rows
           if (lang == "a" and key(i) < int(0.52 * 2 ** 32))
           or (lang == "b" and key(i) < int(0.26 * 2 ** 32))}
    assert set(out) == exp and all(v in (10, 20) for v in out.values())
    # a stratum whose mass is under budget keeps everything (p capped 1)
    all_kept = SC.mixture_sample(df, {"c": 1.0}, budget_frac=1.0)
    assert {r.doc_id for r in all_kept.collect()} == {200, 201}
    # stable under repartitioning (hash rule, not per-partition RNG)
    out2 = {r.doc_id for r in SC.mixture_sample(
        df.repartition(7), {"a": 0.5, "b": 0.25},
        budget_frac=0.5).collect()}
    assert out2 == set(out)


def test_leakage_safe_split_families_share_labels(spark):
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(0, text_a), (1, text_a),                     # exact family
            (2, text_a + " tail"),                        # near-dup of 0/1
            (3, "completely different words about spark engines today"),
            (4, "another unrelated document with its own vocabulary set")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.family, r.split)
           for r in SC.leakage_safe_split(df, 0.2, 0.2,
                                          threshold=0.3).collect()}
    assert len(out) == 5
    # the whole near-dup family carries ONE family id and ONE label
    assert out[0] == out[1] == out[2]
    assert out[0][0] == 0
    # singletons are their own family
    assert out[3][0] == 3 and out[4][0] == 4

    def band(family):
        h = int(hashlib.md5(f"{family}:split".encode()).hexdigest()[:8], 16)
        if h < int(0.2 * 2 ** 32):
            return "val"
        if h < int(0.4 * 2 ** 32):
            return "test"
        return "train"

    for doc_id, (family, split) in out.items():
        assert split == band(family), doc_id
