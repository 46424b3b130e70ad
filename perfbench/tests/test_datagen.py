"""The input generator: the same seed gives the same tables."""

import numpy as np

from datagen import row_counts, tables


def test_same_seed_same_tables_other_seed_other_tables():
    a, b, c = tables(7, 0.001), tables(7, 0.001), tables(8, 0.001)
    assert all(a[name].equals(b[name]) for name in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_row_counts_follow_scale_and_corpus_scale():
    t = tables(7, 0.001, corpus_scale=2)
    want = row_counts(0.001, 2)
    assert {name: t[name].num_rows for name in t} == want
    assert want["documents"] == 1000 and want["lineitem"] == 6000


def test_revenue_terms_have_at_most_two_decimals():
    li = tables(7, 0.001)["lineitem"]
    price = li["l_extendedprice"].to_numpy()
    assert np.array_equal(price, np.round(price))
    cents = np.round(price * (1 - li["l_discount"].to_numpy()) * 100)
    assert np.allclose(price * (1 - li["l_discount"].to_numpy()) * 100, cents, atol=1e-6)
