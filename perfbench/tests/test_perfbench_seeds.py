"""The benchmark's inputs are a function of ``--seed`` (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from itertools import islice

import pytest

from perfbench import datagen, workloads


def _take(it, n):
    return list(islice(it, n))


@pytest.mark.parametrize("make", [workloads.read_ops, workloads.mixed_ops])
def test_op_sequence_follows_the_seed(make):
    assert _take(make(7), 300) == _take(make(7), 300)
    assert _take(make(7), 300) != _take(make(8), 300)


def test_mutation_log_follows_the_seed():
    assert _take(workloads.ingest_batches(7), 3) == _take(workloads.ingest_batches(7), 3)
    assert _take(workloads.ingest_batches(7), 3) != _take(workloads.ingest_batches(8), 3)


def test_mixed_ops_rounds_hold_one_write_of_each_kind():
    ops = _take(workloads.mixed_ops(3), 10 * workloads.ROUND_OPS)
    writes = [op[0] for op in ops if op[0] in workloads.WRITES]
    assert writes == list(workloads.WRITES) * 10
    assert len(ops) == workloads.WRITE_EVERY * len(writes)


def test_ingest_batch_shape():
    seqs = []
    for cmds, lookups in _take(workloads.ingest_batches(5), 4):
        assert len(cmds) == workloads.INGEST_BATCH
        seqs += [c[0] for c in cmds]
        written = {c[3] for c in cmds if c[2] == "node"}
        assert len(lookups) == workloads.LOOKUPS_ADDED + workloads.LOOKUPS_UPDATED
        assert set(lookups) <= written
    assert seqs == list(range(len(seqs)))


def test_reads_repeat_keys_under_zipf_skew():
    share = workloads.repeated_key_share(_take(workloads.read_ops(1), 600))
    assert 0.2 < share < 0.9


def test_input_tables_do_not_depend_on_the_seed():
    a, b = datagen.make_tables(), datagen.make_tables()
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
