import types

import pytest

import worker


def test_patched_wraps_for_the_block_and_restores_after_errors():
    mod = types.SimpleNamespace(f=lambda x: x + 1, g=lambda x: x * 2)
    calls = []

    def spy(real):
        def wrapped(x):
            calls.append(x)
            return real(x)

        return wrapped

    real_f, real_g = mod.f, mod.g
    with pytest.raises(RuntimeError):
        with worker.patched([(mod, "f", spy), (mod, "g", spy)]):
            assert (mod.f(1), mod.g(3)) == (2, 6)
            raise RuntimeError
    assert calls == [1, 3]
    assert (mod.f, mod.g) == (real_f, real_g)
