"""Unit tests for the pure-Python kernel (reference-semantics checks)."""

import re

from esgkg import kernel, synth, vocab


def test_clean_text_reference_semantics():
    # exact behaviors of /root/reference/scripts/05_text_extraction.py:23-34
    assert kernel.clean_text("a\n\tb") == "a b"
    assert kernel.clean_text("a   b　c") == "a b c"
    assert kernel.clean_text("１２３４５６７８９０") == "1234567890"
    assert kernel.clean_text("  x  ") == "x"
    assert kernel.clean_text(None) == ""
    assert kernel.clean_text(123) == ""
    # full-width letters are NOT translated (digits only)
    assert kernel.clean_text("ＡＢ") == "ＡＢ"


def test_extract_text_drops_noise():
    html = (
        b"<html><head><style>p{}</style><script>if(1&lt;2){}</script></head>"
        b"<body><!-- c --><div><p>hello &amp; world</p></div></body></html>"
    )
    assert kernel.page_text(html) == "hello & world"


def test_extract_text_edge_inputs():
    assert kernel.page_text(b"") == ""
    assert kernel.page_text(None) == ""
    assert kernel.page_text(b"<p>\xff ok</p>").endswith("ok")


def test_tokenize_reference_punct():
    # punctuation set per /root/reference/src/rag/graph_rag.py:306-310
    assert kernel.tokenize("気候変動、温室効果ガス。対策！") == [
        "気候変動", "温室効果ガス", "対策",
    ]


def test_extractor_entities_and_relations():
    ex = kernel.get_extractor()
    res = ex.process_text("アクメ電力株式会社は再生可能エネルギーに貢献します。")
    ents = {(e["text"], e["label"]) for e in res["entities"]}
    assert ("アクメ電力株式会社", "ORG") in ents
    assert ("再生可能エネルギー", "CONCEPT") in ents
    rels = {(r["source"], r["relation"], r["target"]) for r in res["relations"]}
    assert ("アクメ電力株式会社", "contributes_to", "再生可能エネルギー") in rels


def test_extractor_english_template():
    ex = kernel.get_extractor()
    res = ex.process_text("Acme Energy Inc contributes to renewable energy.")
    rels = {(r["source"], r["relation"], r["target"]) for r in res["relations"]}
    assert ("Acme Energy Inc", "contributes_to", "renewable energy") in rels


def test_law_entities_regulated_by():
    ex = kernel.get_extractor()
    res = ex.process_text("温室効果ガスは省エネ法によって規制されています。")
    rels = {(r["source"], r["relation"], r["target"]) for r in res["relations"]}
    assert ("温室効果ガス", "regulated_by", "省エネ法") in rels


def test_preds_closed_vocabulary():
    trs = []
    for i in range(100):
        p = synth.make_page(i)
        trs += kernel.extract_triples(kernel.page_text(p["html"]), p["url"])
    assert trs
    assert {t[1] for t in trs} <= set(vocab.RELATIONS)


def test_synth_determinism():
    a = synth.make_page(17)
    b = synth.make_page(17)
    assert a == b
    assert a["html"] != synth.make_page(18)["html"]


def _make_page_stock_random(page_id, seed=42, n_groups=88):
    """The pre-round-6 make_page composition verbatim: stock Random method
    calls (choice/randrange/randint). The optimized make_page inlines
    CPython's _randbelow_with_getrandbits on the bound getrandbits, which
    must consume the identical entropy stream — this reference pins that."""
    import datetime
    import random

    rng = random.Random((seed << 20) ^ page_id)
    groups = synth.company_pool(n_groups)
    gid = page_id % len(groups)
    grp = groups[gid]
    company = grp[rng.randrange(len(grp))]
    lang = "en" if company[0].isascii() and rng.random() < 0.7 else "ja"
    concepts = synth._org_concepts(gid)
    en_aliases = synth._org_en_aliases(gid)
    sentences = []
    n_rel = rng.randint(3, 8)
    for _ in range(n_rel):
        pred, ja_tpl, en_tpl = vocab.RELATION_TEMPLATES[
            rng.randrange(len(vocab.RELATION_TEMPLATES))
        ]
        if lang == "ja":
            s = company if rng.random() < 0.4 else rng.choice(concepts)
            if pred == "regulated_by":
                o = rng.choice(vocab.LAWS)
            elif pred == "measured_by":
                o = rng.choice(synth._METRICS)
            else:
                o = rng.choice(concepts)
            sentences.append(ja_tpl.format(s=s, o=o))
        else:
            s = company if rng.random() < 0.4 else rng.choice(en_aliases)
            o = rng.choice(en_aliases)
            if pred == "regulated_by":
                o = rng.choice(vocab.LAWS)
            sentences.append(en_tpl.format(s=s, o=o))
    filler = synth._FILLER_JA if lang == "ja" else synth._FILLER_EN
    sentences.insert(rng.randrange(len(sentences) + 1), rng.choice(filler))
    year = rng.choice(["２０２４年", "2024年", "２０２３年"])
    sentences.append(
        f"{year}のESG活動報告。" if lang == "ja" else f"ESG report {year}."
    )
    paras = []
    for s in sentences:
        pad = rng.choice(["", "\n\t", "  ", "\n\n\t\t"])
        paras.append(f"<p>{pad}{s}{pad}</p>")
    body = "\n".join(paras)
    html = (
        "<html><head><title>ESG Report</title>"
        "<style>body{font:12px}</style>"
        f"<script>var x = {rng.randrange(1000)}; if (x &lt; 3) x++;</script>"
        "</head><body>\n"
        "<!-- generated report -->\n"
        f"<div class='main'><h1>{company} &amp; ESG</h1>\n{body}\n</div>"
        "</body></html>"
    )
    ts = datetime.datetime(2024, 1, 1) + datetime.timedelta(
        minutes=(page_id * 37) % (60 * 24 * 365)
    )
    return {
        "url": f"https://example.org/esg/{page_id}",
        "warc_ts": ts,
        "html": html.encode("utf-8"),
        "text": None,
        "lang": lang,
    }


def test_make_page_inlined_randbelow_identical():
    """Round-6 opt: make_page with the inlined _randbelow must be
    byte-identical to the stock-Random composition — every draw site, both
    languages, variable-length draws (filler insert position), large ids,
    and the scaled org pool."""
    ids = (
        list(range(600))
        + [10**6 + i * 7919 for i in range(200)]
        + [2**31 - 1 - i for i in range(50)]
    )
    for i in ids:
        for seed, ng in ((42, 88), (7, 88), (42, 16384)):
            assert synth.make_page(i, seed, ng) == _make_page_stock_random(
                i, seed, ng
            ), (i, seed, ng)


def test_minhash_stability_and_similarity():
    s1 = kernel.minhash_signature("アクメ電力株式会社")
    s2 = kernel.minhash_signature("アクメ電力株式会社")
    assert (s1 == s2).all()
    # similar strings share bands; dissimilar don't
    near = kernel.minhash_signature("アクメ電力力株式会社")
    far = kernel.minhash_signature("completely different text")
    hits_near = sum(
        a == b
        for a, b in zip(kernel.band_hashes(s1, 16), kernel.band_hashes(near, 16))
    )
    hits_far = sum(
        a == b
        for a, b in zip(kernel.band_hashes(s1, 16), kernel.band_hashes(far, 16))
    )
    assert hits_near > 0
    assert hits_far == 0


def test_hash_embed_unit_norm_and_determinism():
    import numpy as np

    v1 = kernel.hash_embed("気候変動")
    v2 = kernel.hash_embed("気候変動")
    assert np.allclose(v1, v2)
    assert abs(float(np.linalg.norm(v1)) - 1.0) < 1e-5


def test_category_closure_fixes_depth_bug():
    cat = vocab.concept_category()
    # leaf two levels down still resolves (the reference's S8 bug filed
    # leaves as Other; we document the divergence)
    assert cat["温室効果ガス"] == "Environment"
    assert cat["児童労働防止"] == "Social"
    assert cat["監査委員会"] == "Governance"


def test_org_regex_matches_variants():
    for grp in synth.company_pool():
        for s in grp:
            ex = kernel.get_extractor()
            m = ex.ent_re.search(s)
            assert m and m.group(0) == s, s


def test_minhash_batch_equals_scalar(monkeypatch):
    """minhash_signatures_batch must be row-for-row byte-identical to the
    scalar minhash_signature — same sorted-shingle order, same uint64
    wrap-around affine transform — including empty/short/unicode edge
    cases and across chunk boundaries."""
    import numpy as np

    from esgkg import kernel

    strings = [
        "", "a", "ab", "abc", "Mitsubishi Corporation",
        "三菱商事株式会社", "  spaced  out  ", "aaaa", "abcabcabc",
        "Mitsubishi  Corporation", "mitsubishi corporation",
    ] + [f"synthetic surface {i} 株式会社" for i in range(50)]
    batch = kernel.minhash_signatures_batch(strings, k=32, ngram=3)
    assert batch.shape == (len(strings), 32) and batch.dtype == np.int64
    for i, s in enumerate(strings):
        scalar = kernel.minhash_signature(s, k=32, ngram=3)
        assert np.array_equal(batch[i], scalar), s
    # chunk boundary mid-batch must not change results
    monkeypatch.setattr(kernel, "MAX_GRAMS_PER_CHUNK", 17)
    chunked = kernel.minhash_signatures_batch(strings, k=32, ngram=3)
    assert np.array_equal(chunked, batch)
    # band hashes over batch rows equal band hashes over scalar sigs
    for i, s in enumerate(strings):
        assert kernel.band_hashes(batch[i], 16) == kernel.band_hashes(
            kernel.minhash_signature(s), 16
        )


def test_clean_text_optimized_identical():
    # round-6 optimization guard: clean_text's single-pass + gated-replace
    # implementation must stay byte-identical to the original reference
    # composition (NLTAB sub -> WS sub -> str.translate) on every input
    # class: zenkaku digits, all whitespace kinds, ideographic space,
    # control whitespace, mixed runs, and real synth pages.
    _zen = str.maketrans("０１２３４５６７８９", "0123456789")
    _nltab = re.compile(r"[\n\t]+")
    _ws = re.compile(r"\s+")

    def reference(text):
        if not isinstance(text, str):
            return ""
        text = _nltab.sub(" ", text)
        text = _ws.sub(" ", text)
        text = text.translate(_zen)
        return text.strip()

    cases = [
        "",
        "a\n\tb",
        "a \t\n　b\x0b\x0c c",
        "１２３４５６７８９０",
        "x２０２４年\n\n\t\tＹ１y1",
        "　\u00a0\u3000mixed　nbsp\u00a0ends　",
        "\x1c\x1d\x1e\x1f unicode ws",
        "no-op ascii only",
        "０a１b２c３d４e５f６g７h８i９j０",
    ]
    for i in range(200):
        cases.append(kernel.extract_text(synth.make_page(i)["html"]))
    for c in cases:
        assert kernel.clean_text(c) == reference(c), repr(c[:80])
    assert kernel.clean_text(None) == reference(None)
    assert kernel.clean_text(3.5) == reference(3.5)


def test_extract_triples_matches_process_text_contract():
    # extract_triples must emit exactly the triples derivable from the
    # process_text contract (same rows, same order), including on repeated
    # sentences and pages.
    def reference(text, url):
        ex = kernel.get_extractor()
        res = ex.process_text(text)
        triples, seen = [], set()
        for r in res["relations"]:
            key = (r["source"], r["relation"], r["target"])
            if key not in seen:
                seen.add(key)
                triples.append((r["source"], r["relation"], r["target"], url))
        for e in res["entities"]:
            if e["label"] in vocab.INSTANCE_LABELS:
                key = (e["text"], "instance_of", "Organization")
                if key not in seen:
                    seen.add(key)
                    triples.append(
                        (e["text"], "instance_of", "Organization", url)
                    )
        return triples

    n_groups = synth.default_groups(3_000_000)
    texts = [
        kernel.page_text(synth.make_page(i, 42, n_groups)["html"])
        for i in range(300)
    ]
    # adversarial: duplicated sentences within and across pages,
    # duplicate triples inside one page, and an empty page
    texts += [texts[0], texts[1] + texts[1], ""]
    for i, t in enumerate(texts):
        url = f"u://{i}"
        assert kernel.extract_triples(t, url) == reference(t, url)
    # second pass: results must not change
    for i, t in enumerate(texts):
        url = f"u://{i}"
        assert kernel.extract_triples(t, url) == reference(t, url)
