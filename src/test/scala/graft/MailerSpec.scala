package graft

import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Mailer
import graft.pipeline.ZoomRunner.JobReport

/** SMTP notification: message semantics vs /root/reference/mailer.py
  * (subject/body/attachment, 23-62) through a recording transport, and
  * the RFC 5321 socket dialogue against an in-process loopback server.
  */
class MailerSpec extends AnyFunSuite {

  private val okReport = JobReport("Zoom Connector", success = true,
    None, 1234, Seq("load_users"))
  private val errReport = JobReport("Zoom Connector", success = false,
    Some("boom: table missing"), 99, Nil)

  class Recording extends Mailer.SmtpTransport {
    val sent = mutable.ArrayBuffer.empty[(String, Seq[String], String)]
    override def sendMail(from: String, to: Seq[String], message: String): Unit =
      sent += ((from, to, message))
  }

  test("success message: subject/body shape of mailer.py:25-35, no attachment part") {
    val t = new Recording
    new Mailer.SmtpNotifier(t, "job@x.org", Seq("ops@x.org")).notify(okReport)
    val (from, to, msg) = t.sent.head
    assert(from == "job@x.org" && to == Seq("ops@x.org"))
    assert(msg.contains("Subject: Zoom Connector - Success\r\n"))
    assert(msg.contains("Zoom Connector completed successfully."))
    assert(!msg.contains("Content-Disposition"))
    // multipart framing: opening boundary + terminal boundary
    assert(msg.contains("------=_graft_boundary\r\n"))
    assert(msg.contains("------=_graft_boundary--\r\n"))
  }

  test("error message carries the error detail; log file attaches when present") {
    val log = Files.createTempFile("app", ".log")
    Files.write(log, "line1\n.leading dot line\n".getBytes(StandardCharsets.UTF_8))
    val t = new Recording
    new Mailer.SmtpNotifier(t, "job@x.org", Seq("a@x.org", "b@x.org"), Some(log))
      .notify(errReport)
    val msg = t.sent.head._3
    assert(msg.contains("Subject: Zoom Connector - Error\r\n"))
    assert(msg.contains("Zoom Connector encountered an error.\r\nboom: table missing"))
    // the reference's `filename= ` space quirk is mirrored (mailer.py:42)
    assert(msg.contains(s"Content-Disposition: attachment; filename= $log"))
    assert(msg.contains("line1"))
    // a MISSING log file attaches nothing (mailer.py:39 existence guard)
    val t2 = new Recording
    new Mailer.SmtpNotifier(t2, "job@x.org", Seq("a@x.org"),
      Some(log.resolveSibling("absent.log"))).notify(errReport)
    assert(!t2.sent.head._3.contains("Content-Disposition"))
  }

  test("notify never throws: a dead transport is logged, not propagated") {
    val boom = new Mailer.SmtpTransport {
      override def sendMail(f: String, t: Seq[String], m: String): Unit =
        throw new java.io.IOException("connection refused")
    }
    new Mailer.SmtpNotifier(boom, "a@x", Seq("b@x")).notify(okReport)
  }

  /** Single-connection fake SMTP server: speaks just enough RFC 5321 to
    * drive the client through EHLO (multi-line reply), AUTH LOGIN, the
    * envelope, DATA, and QUIT, recording everything it hears.
    */
  private def withFakeServer(test: (Int, () => (Seq[String], String)) => Unit): Unit = {
    val server = new ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    @volatile var commands = Seq.empty[String]
    @volatile var data = ""
    val accept = new Thread(() => {
      val s = server.accept()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(s.getInputStream, StandardCharsets.UTF_8))
      val out = new java.io.OutputStreamWriter(s.getOutputStream, StandardCharsets.UTF_8)
      def reply(r: String): Unit = { out.write(r + "\r\n"); out.flush() }
      reply("220 fake ESMTP")
      var inData = false
      val cmds = mutable.ArrayBuffer.empty[String]
      val body = new StringBuilder
      var line = in.readLine()
      while (line != null) {
        if (inData) {
          if (line == ".") { inData = false; reply("250 ok: queued") }
          else body.append(line).append("\r\n")
        } else {
          cmds += line
          line match {
            case l if l.startsWith("EHLO") =>
              // multi-line reply: client must skip 250- continuations
              reply("250-fake greets you"); reply("250-AUTH LOGIN"); reply("250 OK")
            case "AUTH LOGIN" => reply("334 VXNlcm5hbWU6")
            case l if cmds.length >= 2 && cmds(cmds.length - 2) == "AUTH LOGIN" =>
              reply("334 UGFzc3dvcmQ6")
            case l if cmds.length >= 3 && cmds(cmds.length - 3) == "AUTH LOGIN" =>
              reply("235 authenticated")
            case l if l.startsWith("MAIL FROM") || l.startsWith("RCPT TO") =>
              reply("250 ok")
            case "DATA" => inData = true; reply("354 go ahead")
            case "QUIT" => reply("221 bye")
            case _ => reply("500 what")
          }
        }
        commands = cmds.toSeq; data = body.result()
        line = if (cmds.lastOption.contains("QUIT")) null else in.readLine()
      }
      s.close()
    })
    accept.start()
    // the server records QUIT after replying 221, so a reader must wait
    // for its thread: the client may return before the last assignment
    try test(server.getLocalPort, () => { accept.join(10000); (commands, data) })
    finally { accept.join(10000); server.close() }
  }

  test("socket transport: full RFC 5321 dialogue with AUTH and dot-stuffing") {
    withFakeServer { (port, heard) =>
      val t = new Mailer.SocketSmtpTransport("127.0.0.1", port,
        credentials = Some(("user@x.org", "hunter2")))
      t.sendMail("job@x.org", Seq("ops@x.org"),
        "Subject: t\r\n\r\nhello\r\n.dangerous leading dot\r\n")
      val (cmds, data) = heard()
      assert(cmds.exists(_.startsWith("EHLO")))
      assert(cmds.contains("AUTH LOGIN"))
      // credentials crossed base64-encoded, never in the clear
      assert(cmds.contains(java.util.Base64.getEncoder.encodeToString(
        "user@x.org".getBytes(StandardCharsets.UTF_8))))
      assert(cmds.contains("MAIL FROM:<job@x.org>"))
      assert(cmds.contains("RCPT TO:<ops@x.org>"))
      assert(cmds.contains("DATA") && cmds.last == "QUIT")
      // RFC 5321 §4.5.2: the leading dot was doubled on the wire
      assert(data.contains("..dangerous leading dot"))
      assert(!data.contains("\r\n.dangerous"))
    }
  }

  test("socket transport: a 5xx rejection surfaces as IOException (caught by the notifier)") {
    val server = new ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
    val accept = new Thread(() => {
      val s = server.accept()
      val out = new java.io.OutputStreamWriter(s.getOutputStream, StandardCharsets.UTF_8)
      out.write("554 no service for you\r\n"); out.flush(); s.close()
    })
    accept.start()
    try {
      val t = new Mailer.SocketSmtpTransport("127.0.0.1", server.getLocalPort)
      val e = intercept[java.io.IOException] {
        t.sendMail("a@x", Seq("b@x"), "m")
      }
      assert(e.getMessage.contains("554"))
      // and the Notifier seam keeps its must-not-throw contract on top
      new Mailer.SmtpNotifier(t, "a@x", Seq("b@x")).notify(okReport)
    } finally { accept.join(10000); server.close() }
  }
}
