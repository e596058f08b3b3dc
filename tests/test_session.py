"""session.parallel_actions: the one pool every library caller uses to
overlap independent blocking Spark actions."""

import threading
import time

import pytest

from myserver_datawarehouse_spark.session import parallel_actions


def test_parallel_actions_returns_results_in_submission_order():
    # Later thunks finish first; results still follow submission order.
    thunks = [
        (lambda i=i: time.sleep(0.05 * (5 - i)) or i) for i in range(6)
    ]
    assert parallel_actions(*thunks) == list(range(6))
    assert parallel_actions(lambda: "one") == ["one"]


def test_parallel_actions_caps_in_flight_at_four():
    lock = threading.Lock()
    state = {"now": 0, "peak": 0}

    def work():
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        time.sleep(0.05)
        with lock:
            state["now"] -= 1

    parallel_actions(*[work] * 8)
    assert 1 < state["peak"] <= 4


def test_parallel_actions_raises_only_after_every_thunk_finished():
    done = []

    def boom():
        raise ValueError("first")

    def slow(i):
        time.sleep(0.2)
        done.append(i)

    with pytest.raises(ValueError, match="first"):
        parallel_actions(boom, *[(lambda i=i: slow(i)) for i in range(3)])
    # The barrier held: every other thunk ran to completion before the
    # exception reached the caller.
    assert sorted(done) == [0, 1, 2]
