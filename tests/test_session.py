import os
import zipfile

from kg.session import make_pyfiles_zip


def test_session_sets_no_heap_pre_touch_or_allocator_environment(spark):
    conf = dict(spark.sparkContext.getConf().getAll())
    java_opts = conf.get("spark.driver.extraJavaOptions", "")
    assert "-Xms" not in java_opts
    assert "AlwaysPreTouch" not in java_opts
    assert not [
        k for k in conf
        if k.startswith("spark.executorEnv.MALLOC_")
        or k == "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL"
    ]


def test_pyfiles_zip_survives_a_second_call_while_writing(tmp_path, monkeypatch):
    """A second session that starts while the first is zipping writes its
    own temp file: neither truncates the other's, and both renames land."""
    dest = str(tmp_path / "kg.zip")
    write = zipfile.ZipFile.write
    calls = []

    def write_and_reenter(self, *args, **kwargs):
        if not calls:
            calls.append("second")
            assert make_pyfiles_zip(dest) == dest
        return write(self, *args, **kwargs)

    monkeypatch.setattr(zipfile.ZipFile, "write", write_and_reenter)
    assert make_pyfiles_zip(dest) == dest
    assert calls == ["second"]
    with zipfile.ZipFile(dest) as zf:
        assert zf.testzip() is None
        assert "kg/session.py" in zf.namelist()
    assert os.listdir(tmp_path) == ["kg.zip"]
