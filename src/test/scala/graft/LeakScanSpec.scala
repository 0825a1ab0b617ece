package graft

import java.nio.file.{Files, Path, Paths}

/** Makes `sbt test` the leak gate (r10 verdict item 3): `tools/
  * leakscan.py` exits 1 on hits, but until this spec nothing ran it
  * automatically — a leak introduced mid-round surfaced at round end
  * (when someone re-stamped LEAKSCAN.json), not at commit time.
  *
  * Two sides of the gate:
  *  - GREEN NOW: the real tracked tree scans clean, run from the repo
  *    root exactly as the round-end re-stamp runs it.
  *  - RED ON A SEED: a throwaway git repo with a planted credential
  *    makes the scanner exit 1 and name the category — proving the gate
  *    actually fires (a gate only ever seen green is untested). The
  *    seeded patterns are ASSEMBLED at runtime, never literal: this spec
  *    file is itself inside the scanned surface.
  *
  * The seed fixture also pins the r10 ADVICE email-exemption fix:
  * fixture addresses on RFC 2606 example.com SUBDOMAINS (host
  * mail.example.com) are exempt, while a real-domain address still
  * flags. (First draft of this very comment spelled out such an
  * address, line-wrapped mid-domain, and the gate flagged its own spec
  * file — the red path works on tracked sources too.)
  */
class LeakScanSpec extends SparkSpec {

  /** sbt runs tests with user.dir = the build base; assert the marker so
    * a future fork/cwd change fails loudly instead of scanning nothing. */
  private val repoRoot: Path = {
    val d = Paths.get(sys.props("user.dir"))
    assert(Files.exists(d.resolve("tools/leakscan.py")),
      s"repo root not found from user.dir=$d")
    d
  }

  private def run(cmd: Seq[String], cwd: Path): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd.toFile)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  test("the tracked tree is leak-free (leakscan exit 0)") {
    val (code, out) =
      run(Seq("python3", "tools/leakscan.py", "--stdout"), repoRoot)
    assert(code == 0,
      s"leakscan found hits — fix before committing:\n${out.takeRight(2000)}")
  }

  test("a seeded credential turns the gate red; subdomain fixture emails stay exempt") {
    val tmp = Paths.get(tempDir("graft_leakscan_seed"))
    def sh(cmd: String*): String = {
      val (c, o) = run(cmd, tmp); assert(c == 0, s"${cmd.head} failed: $o"); o
    }
    sh("git", "init", "-q")
    val key = "AKIA" + "Q" * 16             // aws_key_id shape, assembled
    val fixtureMail = "user@" + "mail.example.com" // RFC 2606 subdomain
    val realMail = "leak@" + "gmail.com"
    Files.write(tmp.resolve("seeded.txt"),
      s"key_id: $key\ncontact: $fixtureMail\nauthor: $realMail\n"
        .getBytes("UTF-8"))
    sh("git", "add", "seeded.txt")
    sh("git", "-c", "user.email=t@example.com", "-c", "user.name=t",
      "-c", "commit.gpgsign=false", "commit", "-qm", "seed")
    val script = repoRoot.resolve("tools/leakscan.py").toString
    val (code, out) = run(Seq("python3", script, "--stdout"), tmp)
    assert(code == 1, s"seeded credential not detected:\n$out")
    assert(out.contains("aws_key_id"), s"category not named:\n$out")
    assert(out.contains(realMail), s"real-domain email not flagged:\n$out")
    assert(!out.contains(fixtureMail),
      s"RFC 2606 subdomain fixture wrongly flagged:\n$out")
  }
}
