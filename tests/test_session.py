from kg.session import driver_jvm_conf


def test_driver_jvm_conf_keeps_callers_java_options():
    conf = driver_jvm_conf({
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Dkg.flag=1 -Xms1g",
    })
    # the caller's options come last, so their repeated -Xms wins
    assert conf == {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch -Dkg.flag=1 -Xms1g",
    }


def test_driver_jvm_conf_heap_follows_driver_memory():
    conf = driver_jvm_conf({"spark.driver.memory": "1g"})
    assert conf["spark.driver.extraJavaOptions"] == "-Xms1g -XX:+AlwaysPreTouch"
