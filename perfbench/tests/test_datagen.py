from perfbench import datagen

SF = 0.0005


def test_same_seed_same_tables():
    a, b = datagen.build(7, SF), datagen.build(7, SF)
    assert a.keys() == b.keys()
    assert all(a[name].equals(b[name]) for name in a)


def test_other_seed_other_tables():
    a, b = datagen.build(7, SF), datagen.build(8, SF)
    assert not a["lineitem"].equals(b["lineitem"])


def test_documents_hold_planted_near_duplicates():
    texts = datagen.build(7, SF)["documents"].column("text").to_pylist()
    dups = [t for t in texts if t.endswith(" dup")]
    assert dups and all(t[: -len(" dup")] in texts for t in dups)
