"""bench.py's short summary line: the keys the driver parses."""

from __future__ import annotations

import bench

# The 131 gates' short keys, as the last stdout line of bench.py
# carries them. A renamed or added gate changes this set on purpose.
SHORT_KEYS = """
    q01 q02 q03 q04 q05 q06 q07 q08 q09 q10 q11 q12 q13 q14 q15 q16 q17
    q18 q19 q20 q21 q22 q23 q24 q25 q26 q27 q28 q29 q30 q31 q32 q33 q34
    q35 q36 q37 q38 q39 q40 q41 q42 q43 q44 q45 q46 q47 q48 q49 q50 q51
    q52 q53 q54 q55 q56 q57 q58 q59 q60 q61 q62 q63 q64 q65 q66 q67 q68
    q69 q70 q71 q72 q73 q74 q75 q76 q77 q78 q79 q80 q81 q82 q83 q84 q85
    q86 q87 q88 q89 q90 q91 q92 q93 q94 q95 q96 q97 q98 q99 qa01 qa02
    qa03 qa04 qa05 qa06 qa07 qa08 qa09 qa10 qa11 qa12 qa13 qa14 qa15
    qa16 qa17 qa18 qa19 qa20 qa21 qa22 qa23 qa24 qa25 qa26 qa27 qa28
    qa29 qa30 qa31 qa32
""".split()


def test_short_keys_are_pinned():
    import __spark_entry__

    timings = {name: 1.0 for name in sorted(__spark_entry__.queries())}
    keys = bench.short_keys(timings)
    assert len(SHORT_KEYS) == 131
    assert sorted(keys) == sorted(SHORT_KEYS)


def test_short_key_collision_keeps_both():
    """A second gate with a taken prefix keeps its full name, and
    values round to 2 decimals."""
    assert bench.short_keys({"q01_a": 1.234, "q01_b": 2.0, "qa02_c": 0.006}) == {
        "q01": 1.23,
        "q01_b": 2.0,
        "qa02": 0.01,
    }
