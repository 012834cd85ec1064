package perfbench

import scala.util.Random

/** A seeded, full Fantasy Premier League season in the raw API shape the
  * ETL extracts: `bootstrap-static` (events, teams, element types,
  * elements), `fixtures`, and one `element-summary` body per player.
  *
  * The model: 20 teams play a double round robin (380 fixtures over 38
  * gameweeks); four seed-chosen fixtures are postponed (`event` null, no
  * kickoff); every fixture before gameweek 30 is finished. Each player has
  * one history row per finished fixture of their team, one future row per
  * unfinished fixture, and 0-5 past seasons. Values respect the load DDL
  * checks: difficulty <= 4, fixture minutes <= 90, at most 20 teams.
  *
  * [[expectedCounts]] derives from the same model the row counts the load
  * must leave in each table.
  */
final class Season(seed: Long, val nPlayers: Int) {
  private val rnd = new Random(seed)
  val nTeams = 20
  val nGameweeks = 38
  val currentGw: Int = 30

  final case class Fixture(id: Int, code: Int, gw: Option[Int], home: Int,
      away: Int, kickoff: Option[String], finished: Boolean,
      homeScore: Int, awayScore: Int, homeDiff: Int, awayDiff: Int)

  private def kickoff(gw: Int, slot: Int): String = {
    val day = java.time.LocalDate.of(2024, 8, 16).plusDays(7L * (gw - 1))
    f"${day}T${12 + slot % 8}%02d:30:00Z"
  }

  /** Circle-method double round robin: rounds 1-19 and their mirror. */
  val fixtures: IndexedSeq[Fixture] = {
    val teams = (1 to nTeams).toVector
    val half = (0 until nTeams - 1).map { r =>
      val rot = teams.head +: {
        val rest = teams.tail
        rest.drop(rest.size - r) ++ rest.take(rest.size - r)
      }
      (0 until nTeams / 2).map { i =>
        val (a, b) = (rot(i), rot(nTeams - 1 - i))
        if ((r + i) % 2 == 0) (a, b) else (b, a)
      }
    }
    val rounds = half ++ half.map(_.map(_.swap))
    val postponed = rnd.shuffle((1 to nTeams * (nTeams - 1)).toVector)
      .take(4).toSet
    rounds.zipWithIndex.flatMap { case (games, r) =>
      games.zipWithIndex.map { case ((h, a), i) =>
        val id = r * (nTeams / 2) + i + 1
        val gw = r + 1
        val off = postponed.contains(id)
        val done = !off && gw < currentGw
        Fixture(id, 2_400_000 + id, if (off) None else Some(gw), h, a,
          if (off) None else Some(kickoff(gw, i)), done,
          if (done) rnd.nextInt(5) else 0, if (done) rnd.nextInt(4) else 0,
          1 + rnd.nextInt(4), 1 + rnd.nextInt(4))
      }
    }
  }

  final case class Player(id: Int, team: Int, position: Int, seasons: Int)

  val players: IndexedSeq[Player] = (1 to nPlayers).map { id =>
    Player(id, 1 + (id - 1) % nTeams, 1 + rnd.nextInt(4), rnd.nextInt(6))
  }

  private def teamFixtures(t: Int) =
    fixtures.filter(f => f.home == t || f.away == t)

  private def q(s: String) = "\"" + s + "\""
  private def opt[A](o: Option[A]) = o.map(_.toString).getOrElse("null")
  private def optS(o: Option[String]) = o.map(q).getOrElse("null")

  private def stats(r: Random, played: Boolean): String = {
    val m = if (played) r.nextInt(91) else 0
    Seq(
      "total_points" -> r.nextInt(15), "minutes" -> m,
      "goals_scored" -> r.nextInt(2), "assists" -> r.nextInt(2),
      "clean_sheets" -> r.nextInt(2), "goals_conceded" -> r.nextInt(4),
      "own_goals" -> 0, "penalties_saved" -> 0, "penalties_missed" -> 0,
      "yellow_cards" -> r.nextInt(2), "red_cards" -> 0,
      "saves" -> r.nextInt(5), "bonus" -> r.nextInt(4), "bps" -> r.nextInt(50))
      .map { case (k, v) => s"${q(k)}:$v" }.mkString(",") +
      s""","influence":${r.nextInt(800) / 10.0},"creativity":${r.nextInt(600) / 10.0},""" +
      s""""threat":${r.nextInt(700) / 10.0}"""
  }

  val fixturesJson: String = fixtures.map { f =>
    s"""{"code":${f.code},"event":${opt(f.gw)},"id":${f.id},"finished":${f.finished},""" +
      s""""finished_provisional":${f.finished},"started":${f.finished},""" +
      s""""minutes":${if (f.finished) 90 else 0},"kickoff_time":${optS(f.kickoff)},""" +
      s""""team_a":${f.away},"team_h":${f.home},""" +
      s""""team_a_score":${if (f.finished) f.awayScore.toString else "null"},""" +
      s""""team_h_score":${if (f.finished) f.homeScore.toString else "null"},""" +
      s""""team_h_difficulty":${f.homeDiff},"team_a_difficulty":${f.awayDiff}}"""
  }.mkString("[\n", ",\n", "\n]")

  val mainJson: String = {
    val events = (1 to nGameweeks).map { gw =>
      val done = gw < currentGw
      s"""{"id":$gw,"name":"Gameweek $gw","deadline_time":"${kickoff(gw, 0).take(11)}10:00:00Z",""" +
        s""""deadline_time_epoch":${1723802400L + 604800L * (gw - 1)},"deadline_time_game_offset":0,""" +
        s""""finished":$done,"data_checked":$done,"is_previous":${gw == currentGw - 1},""" +
        s""""is_current":${gw == currentGw - 1},"is_next":${gw == currentGw},""" +
        s""""average_entry_score":${if (done) (40 + gw % 30).toString else "null"},""" +
        s""""highest_score":${if (done) (90 + gw).toString else "null"},""" +
        s""""highest_scoring_entry":${1000 + gw},"most_selected":${1 + gw % nPlayers},""" +
        s""""most_transferred_in":${1 + (gw * 7) % nPlayers},"top_element":${1 + (gw * 3) % nPlayers},""" +
        s""""most_captained":${1 + (gw * 5) % nPlayers},"most_vice_captained":${1 + (gw * 11) % nPlayers},""" +
        s""""transfers_made":${gw * 1000}}"""
    }
    val teams = (1 to nTeams).map { t =>
      s"""{"code":${100 + t},"id":$t,"name":"Team $t","short_name":"T${"%02d".format(t)}",""" +
        s""""strength":${2 + t % 4},"strength_overall_home":${1000 + 10 * t},""" +
        s""""strength_overall_away":${990 + 10 * t},"strength_attack_home":${1000 + t},""" +
        s""""strength_attack_away":${995 + t},"strength_defence_home":${1010 + t},""" +
        s""""strength_defence_away":${1005 + t}}"""
    }
    val types = Seq("Goalkeeper" -> "GKP", "Defender" -> "DEF",
      "Midfielder" -> "MID", "Forward" -> "FWD").zipWithIndex.map {
      case ((n, s), i) =>
        s"""{"id":${i + 1},"singular_name":"$n","singular_name_short":"$s",""" +
          s""""squad_select":${Seq(2, 5, 5, 3)(i)},"squad_min_play":1,"squad_max_play":5}"""
    }
    val r = new Random(seed * 31 + 7)
    val elements = players.map { p =>
      val news = if (r.nextInt(10) == 0) "\"knock\"" else "\"\""
      s"""{"code":${50000 + p.id},"id":${p.id},"element_type":${p.position},""" +
        s""""team":${p.team},"team_code":${100 + p.team},"event_points":${r.nextInt(15)},""" +
        s""""first_name":"First${p.id}","second_name":"Last${p.id}","news":$news,""" +
        s""""news_added":${if (news.length > 2) "\"2025-03-01T09:00:00Z\"" else "null"},""" +
        s""""now_cost":${40 + r.nextInt(90)},"selected_by_percent":${r.nextInt(500) / 10.0},""" +
        s""""chance_of_playing_next_round":null,"chance_of_playing_this_round":null,""" +
        s""""cost_change_event":0,"cost_change_event_fall":0,"cost_change_start":${r.nextInt(5)},""" +
        s""""cost_change_start_fall":0,"ep_next":${r.nextInt(80) / 10.0},"ep_this":${r.nextInt(80) / 10.0},""" +
        s""""in_dreamteam":false,"dreamteam_count":${r.nextInt(3)},"photo":"${p.id}.jpg",""" +
        s""""points_per_game":${r.nextInt(80) / 10.0},"special":false,""" +
        s""""status":"${if (news.length > 2) "d" else "a"}","transfers_in":${r.nextInt(100000)},""" +
        s""""transfers_out":${r.nextInt(100000)},"transfers_in_event":${r.nextInt(1000)},""" +
        s""""transfers_out_event":${r.nextInt(1000)},"value_form":${r.nextInt(30) / 10.0},""" +
        s""""value_season":${r.nextInt(300) / 10.0},"form":${r.nextInt(80) / 10.0},""" +
        s""""ict_index":${r.nextInt(2000) / 10.0},${stats(r, played = true)}}"""
    }
    s"""{"events":[${events.mkString(",\n")}],\n"teams":[${teams.mkString(",\n")}],\n""" +
      s""""element_types":[${types.mkString(",\n")}],\n"elements":[${elements.mkString(",\n")}]}"""
  }

  /** element-summary body per player id, WITHOUT player_id (the extract
    * splices it in, as for the live API). */
  val playerDocs: Map[Long, String] = players.map { p =>
    val r = new Random(seed * 1009 + p.id)
    val mine = teamFixtures(p.team)
    val history = mine.filter(_.finished).map { f =>
      s"""{"element":${p.id},"fixture":${f.id},"round":${f.gw.get},""" +
        s""""was_home":${f.home == p.team},"kickoff_time":${optS(f.kickoff)},""" +
        s""""value":${40 + r.nextInt(90)},"selected":${r.nextInt(1000000)},""" +
        s""""transfers_balance":${r.nextInt(2000) - 1000},"transfers_in":${r.nextInt(5000)},""" +
        s""""transfers_out":${r.nextInt(5000)},${stats(r, played = true)}}"""
    }
    val future = mine.filterNot(_.finished).map { f =>
      val home = f.home == p.team
      s"""{"code":${f.code},"event":${opt(f.gw)},"team_h":${f.home},"team_a":${f.away},""" +
        s""""is_home":$home,"finished":false,""" +
        s""""difficulty":${if (home) f.homeDiff else f.awayDiff},"kickoff_time":${optS(f.kickoff)}}"""
    }
    val past = (0 until p.seasons).map { s =>
      val y = 2023 - s
      s"""{"element_code":${50000 + p.id},"season_name":"$y/${(y + 1) % 100}",""" +
        s""""start_cost":${40 + r.nextInt(90)},"end_cost":${40 + r.nextInt(90)},""" +
        s"""${stats(r, played = true)}}"""
    }
    p.id.toLong -> (s"""{"history":[${history.mkString(",")}],""" +
      s""""fixtures":[${future.mkString(",")}],"history_past":[${past.mkString(",")}]}""")
  }.toMap

  /** Rows each loaded table must hold, from the model alone. */
  def expectedCounts: Map[String, Long] = {
    val perTeamPast = (1 to nTeams).map(t => t -> teamFixtures(t).count(_.finished)).toMap
    val perTeamFuture = (1 to nTeams).map(t =>
      t -> teamFixtures(t).count(f => !f.finished && f.gw.isDefined)).toMap
    val past = players.map(p => perTeamPast(p.team).toLong).sum
    val future = players.map(p => perTeamFuture(p.team).toLong).sum
    Map(
      "fixtures" -> fixtures.size.toLong,
      "gameweeks" -> nGameweeks.toLong,
      "teams" -> nTeams.toLong,
      "positions" -> 4L,
      "players_summary" -> nPlayers.toLong,
      "players_prev_seasons" -> players.map(_.seasons.toLong).sum,
      "players_past" -> past,
      "players_future" -> future,
      "players_full" -> (past + future),
      "team_results" -> nTeams.toLong,
      "league_table" -> nTeams.toLong,
      "players_statuses" -> nPlayers.toLong,
      "record" -> 1L)
  }

  /** gameweek_now the load must record: first unfinished gameweek. */
  def gameweekNow: String = currentGw.toString

  def jsonBytes: Long =
    (mainJson.length + fixturesJson.length).toLong + playerDocs.values.map(_.length.toLong).sum
}
