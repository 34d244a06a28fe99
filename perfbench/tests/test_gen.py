"""The seeded input generators: same seed, same input; new seed, new input."""

import pytest

from perfbench import gen

GENERATORS = {
    "events": lambda seed: gen.events(seed, 500),
    "hot_images": lambda seed: gen.hot_images(seed, 300),
    "documents": lambda seed: gen.documents(seed, 200, 10)[0],
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_same_seed_same_digest(name):
    make = GENERATORS[name]
    assert gen.digest(make(7)) == gen.digest(make(7))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_other_seed_other_digest(name):
    make = GENERATORS[name]
    assert gen.digest(make(7)) != gen.digest(make(8))


def test_digest_sees_a_single_value():
    df = gen.events(1, 100)
    other = df.copy()
    other.loc[50, "event_type"] = "x" + other.loc[50, "event_type"]
    assert gen.digest(df) != gen.digest(other)


def test_planted_pairs_are_disjoint_and_present():
    df, pairs = gen.documents(3, 400, 40)
    assert len(pairs) == 40
    members = [i for p in pairs for i in p]
    assert len(set(members)) == len(members)  # one partner per document
    ids = set(df["doc_id"])
    assert all(a < b and a in ids and b in ids for a, b in pairs)
    texts = dict(zip(df["doc_id"], df["text"]))
    exact = sum(texts[a] == texts[b] for a, b in pairs)
    assert exact == 20  # half exact copies, half one word changed


def test_event_ids_are_distinct_and_seed_shifted():
    a, b = gen.events(1, 1000), gen.events(2, 1000)
    assert a["event_id"].is_unique
    assert not set(a["event_id"]) & set(b["event_id"])


@pytest.mark.parametrize("seed", [0, 98_999, 424_242, 2**40 + 3, -5])
def test_any_seed_keeps_ids_in_range(seed):
    ev = gen.events(seed, 500)
    assert 0 < ev["event_id"].min() and ev["event_id"].max() < 10**12
    img = gen.hot_images(seed, 300)
    assert img["image_id"].str.len().eq(len("img-") + 12).all()
    docs, _ = gen.documents(seed, 200, 10)
    assert docs["doc_id"].max() < 10**12
