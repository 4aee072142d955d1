"""Output checks and seeded inputs (no Spark needed)."""

from __future__ import annotations

import pandas as pd
import pytest

from perfbench import inputs
from perfbench.checks import frame_mismatch, pair_f1


def test_frame_mismatch_ignores_row_and_column_order():
    a = pd.DataFrame({"a_id": [1, 2], "sim_r": [0.5, 0.25]})
    b = pd.DataFrame({"sim_r": [0.25, 0.5], "a_id": [2, 1]})
    assert frame_mismatch(a, b) is None


@pytest.mark.parametrize(
    "other",
    [
        pd.DataFrame({"a_id": [1, 2], "sim_r": [0.5, 0.250001]}),
        pd.DataFrame({"a_id": [1], "sim_r": [0.5]}),
        pd.DataFrame({"a_id": [1, 2], "sim": [0.5, 0.25]}),
    ],
)
def test_frame_mismatch_reports_any_difference(other):
    a = pd.DataFrame({"a_id": [1, 2], "sim_r": [0.5, 0.25]})
    assert frame_mismatch(a, other)


def test_pair_f1():
    want = pd.DataFrame({"a_id": [0, 0, 2, 4], "b_id": [1, 3, 3, 5]})
    assert pair_f1(want, want) == 1.0
    assert pair_f1(want.iloc[1:], want) == pytest.approx(2 * 3 / 7)
    assert pair_f1(want.iloc[:0], want.iloc[:0]) == 1.0


@pytest.mark.parametrize("workload", ["overlap_dense", "overlap_sparse"])
def test_documents_are_a_function_of_the_seed(workload):
    a, dups_a = inputs.documents(workload, 1)
    b, dups_b = inputs.documents(workload, 1)
    c, dups_c = inputs.documents(workload, 2)
    pd.testing.assert_frame_equal(a, b)
    assert dups_a == dups_b
    assert not a["text"].equals(c["text"]) and dups_a != dups_c
    assert list(a.columns) == ["doc_id", "text", "lang", "source", "n_chars"]
    assert len(a) == inputs.OVERLAP_DOCS[workload]


def test_dense_corpus_stays_under_the_dense_dictionary_cap():
    pdf, _ = inputs.documents("overlap_dense", 3)
    bigrams = {
        (x, y) for t in pdf["text"] for x, y in zip(t.split(), t.split()[1:])
    }
    assert len(bigrams) <= len(inputs.HEAD_VOCAB) ** 2 <= 4096


def test_er_config_is_a_function_of_the_seed():
    assert inputs.er_config(5) == inputs.er_config(5)
    assert inputs.er_config(5) != inputs.er_config(6)
    assert inputs.er_config(5).hot_token_frac > 0
